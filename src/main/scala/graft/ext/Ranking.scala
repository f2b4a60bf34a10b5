package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranked retrieval over the corpus: BM25 for a fixed bag-of-words query.
  * A training-data pipeline uses this shape for quality-targeted mixing
  * (retrieve-then-upsample) and for building eval slices; it is also the
  * reference scoring function any search surface on the engine starts from.
  */
object Ranking {

  /** BM25 top-k: score every document against `queryTerms` and return the
    * k best as (id, score), ordered by (score DESC, id).
    *
    * Scale shape (the interesting part at 100 TB):
    *  - term frequencies shuffle ONLY rows whose token is in the query —
    *    the `isin` filter cuts the exploded token stream to at most
    *    |query| rows per document before any exchange;
    *  - document lengths are a pure projection over the scan (token count
    *    per doc), never an explode;
    *  - document frequencies and the corpus globals (N, avgdl) reduce to
    *    broadcast-size frames;
    *  - the per-term partial scores aggregate into one column per query
    *    term, and the final score is a FIXED-ORDER sum of those columns —
    *    float addition order never depends on row arrival order, which is
    *    what keeps the result replayable bit-for-bit by the oracle;
    *  - top-k plans as TakeOrderedAndProject (no global sort).
    *
    * Scores are rounded Spark-style at 4 decimals: `ln` differs from
    * DuckDB's libm by 1 ulp on rare inputs, and the rounding absorbs it
    * (the established convention for division-derived score columns). */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "query terms must be non-empty and distinct")
    // tokenizer-alphabet guard: terms outside [a-z0-9]+ can never match a
    // token (TextAnalysis.tokens lowercases to this alphabet), and unescaped
    // exotic terms would break the oracle's SQL literal interpolation
    require(queryTerms.forall(_.matches("[a-z0-9]+")),
      s"query terms must match [a-z0-9]+ (the tokenizer alphabet); got: " +
        queryTerms.filterNot(_.matches("[a-z0-9]+")).mkString(", "))
    val dl = docs.select(col(idCol).as("id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
    val g = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .filter(col("t").isin(queryTerms: _*))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))
    scoreTf(tf, dl, g, queryTerms, k1, b, k)
  }

  /** BM25 scoring from term frequencies — the shared tail of the direct and
    * indexed paths. `tf` must hold exactly the (id, t, tf) rows for the
    * query terms (either route produces the same rows, so the two paths are
    * bit-identical: same inputs, same expression tree, same fixed-order
    * float sum). */
  private def scoreTf(tf: DataFrame, dl: DataFrame, g: DataFrame,
      queryTerms: Seq[String], k1: Double, b: Double, k: Int): DataFrame = {
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df")) // tf keys are distinct (id, t)
    val part = tf.join(broadcast(df), "t")
      .join(dl, "id")
      .crossJoin(broadcast(g))
      .withColumn("idf", log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("part", col("idf") * (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    // per-term columns are keyed by INDEX (s_0, s_1, ...), never by the term
    // text — a term containing '.', space, or backtick would otherwise parse
    // as struct access / fail resolution
    val termSums = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, col("part"))).as(s"s_$i") }
    part.groupBy(col("id"))
      .agg(termSums.head, termSums.tail: _*)
      .withColumn("score",
        round(queryTerms.indices.map(i => coalesce(col(s"s_$i"), lit(0.0))).reduce(_ + _), 4))
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Number of hash buckets the postings store is partitioned into. Small
    * here (tiny vocab fixture); at corpus scale pick ~1-4k so each bucket's
    * partition holds one term-group of files. Recorded in the store path, so
    * changing it versions the store. */
  val PostingsBuckets = 64

  private def termBucket(t: String): Int = {
    val h = graft.functions.Fnv.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(t))
    (((h % PostingsBuckets) + PostingsBuckets) % PostingsBuckets).toInt
  }

  /** Build (once per corpus snapshot) the INVERTED-INDEX store for BM25:
    *
    *  - `postings/` — (id, t, tf), hash-PARTITIONED by term bucket
    *    (`t_bucket = pmod(fnv1a64(t), PostingsBuckets)`): a probe for q
    *    terms reads |q| buckets by partition pruning and never scans the
    *    corpus-sized remainder;
    *  - `doclen/` — (id, dl), the per-document length norm;
    *  - `globals/` — ONE row (n, avgdl), precomputed at build so the probe
    *    never aggregates the corpus.
    *
    * A [[graft.Snapshot]] like the IVF/PQ/media caches: content-keyed
    * path, all three sub-writes into one temp dir, one atomic publish.
    * `docs` must be the FULL corpus frame of `sfDir` — the cache key is
    * the source file's identity, not the frame (the mediaCached
    * contract). The ingest-time shuffle (explode + groupBy + partitionBy)
    * is paid once; every probe after that is a pruned scan. */
  def bm25IndexCached(docs: DataFrame, textCol: String, idCol: String,
      sfDir: String): String =
    graft.Snapshot.cached(graft.Snapshot.path("graft_bm25idx_", sfDir,
        s"b${PostingsBuckets}_v1", "documents.parquet")) { tmp =>
      val dl = docs.select(col(idCol).as("id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
      docs.select(col(idCol).as("id"),
          explode(TextAnalysis.tokens(col(textCol))).as("t"))
        .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))
        .withColumn("t_bucket",
          pmod(graft.functions.Fnv.fnv1a64(col("t")), lit(PostingsBuckets)))
        .write.partitionBy("t_bucket").parquet(tmp + "/postings")
      dl.write.parquet(tmp + "/doclen")
      dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
        .write.parquet(tmp + "/globals")
    }

  /** BM25 top-k from the persisted inverted index: the probe reads ONLY the
    * query terms' postings buckets (partition-pruned scan + pushed `t`
    * filter), takes (n, avgdl) from the one-row globals sidecar, and joins
    * doc lengths for the candidates. Identical output to [[bm25TopK]] —
    * both feed the same (id, t, tf) rows into the same scoring tree.
    *
    * Globals come in two formats: the v1 snapshot's final `(n, avgdl)` row
    * and the incremental store's MERGEABLE PARTIALS `(n_part, dl_sum)` —
    * one row per build/append generation, merged here with one aggregate
    * over ≤generations rows (n = Σ n_part, avgdl = Σ dl_sum / Σ n_part).
    * Partials are what make appends crash-consistent without a
    * swap-in-place: every write is append-only, and a reader always sees
    * a consistent prefix of generations. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "query terms must be non-empty and distinct")
    require(queryTerms.forall(_.matches("[a-z0-9]+")),
      s"query terms must match [a-z0-9]+ (the tokenizer alphabet); got: " +
        queryTerms.filterNot(_.matches("[a-z0-9]+")).mkString(", "))
    val buckets = queryTerms.map(termBucket).distinct
    val tf = spark.read.parquet(storeDir + "/postings")
      .filter(col("t_bucket").isin(buckets: _*) && col("t").isin(queryTerms: _*))
      .select(col("id"), col("t"), col("tf"))
    val dl = spark.read.parquet(storeDir + "/doclen")
    val gRaw = spark.read.parquet(storeDir + "/globals")
    val g =
      if (gRaw.columns.contains("avgdl")) gRaw
      else gRaw.agg(sum(col("n_part")).as("n"),
        (sum(col("dl_sum")).cast("double") / sum(col("n_part"))).as("avgdl"))
    scoreTf(tf, dl, g, queryTerms, k1, b, k)
  }

  /** Append a DELTA of documents to an incremental-format index IN PLACE —
    * the production path for a growing corpus; nothing rescans the
    * existing store:
    *
    *  - the delta's postings rows land in the SAME term-bucket partitions
    *    (append — probes stay partition-pruned over the grown index);
    *  - the delta's doc lengths append to `doclen/`;
    *  - globals gain one PARTIAL row `(n_part, dl_sum)`; the probe merges
    *    partials (see [[bm25TopKIndexed]]), so no read-modify-write of a
    *    final row and no swap — same discipline as the IVF append.
    *
    * Each append leaves one more file per touched bucket — run
    * [[StoreCompaction.compact]] on `postings/` once the per-partition
    * file count crosses the deployment's bound. */
  def bm25Append(delta: DataFrame, textCol: String, idCol: String,
      storeDir: String): Unit = {
    writeIncrGeneration(delta, textCol, idCol, storeDir)
  }

  private def writeIncrGeneration(docs: DataFrame, textCol: String,
      idCol: String, dir: String): Unit = {
    val (postings, dl, globals) = incrFrames(docs, textCol, idCol)
    postings.write.mode("append").partitionBy("t_bucket").parquet(dir + "/postings")
    dl.write.mode("append").parquet(dir + "/doclen")
    globals.write.mode("append").parquet(dir + "/globals")
  }

  private def incrFrames(docs: DataFrame, textCol: String,
      idCol: String): (DataFrame, DataFrame, DataFrame) = {
    val dl = docs.select(col(idCol).as("id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
    val postings = docs.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("tf"))
      .withColumn("t_bucket",
        pmod(graft.functions.Fnv.fnv1a64(col("t")), lit(PostingsBuckets)))
    val globals = dl.agg(count(lit(1)).as("n_part"), sum(col("dl")).as("dl_sum"))
    (postings, dl, globals)
  }

  /** Idempotent [[bm25Append]]: each of the three store components is
    * published with `tag`-named generation files (StoreCompaction
    * .appendKeyed), so a replayed micro-batch overwrites its own
    * generation — no duplicate postings/doclen/globals rows (VERDICT r12
    * #6). The globals PARTIAL row stays one-per-batch: a replaced file
    * still holds exactly one partial. */
  def bm25AppendKeyed(delta: DataFrame, textCol: String, idCol: String,
      storeDir: String, tag: String): Unit = {
    val (postings, dl, globals) = incrFrames(delta, textCol, idCol)
    StoreCompaction.appendKeyed(postings, storeDir + "/postings", Seq("t_bucket"), tag)
    StoreCompaction.appendKeyed(dl, storeDir + "/doclen", Nil, tag)
    StoreCompaction.appendKeyed(globals, storeDir + "/globals", Nil, tag)
  }

  /** Content-keyed INCREMENTAL store for the `rank_bm25_incremental` lane:
    * the corpus's even doc_ids build the initial generation, the odd ones
    * arrive as a [[bm25Append]] delta — so the lane proves build + append
    * compose to the exact full-corpus ranking. Both generations are
    * written into one [[graft.Snapshot]] temp dir and atomically published;
    * production appends run against the live dir. */
  def bm25IndexIncrementalCached(docs: DataFrame, textCol: String,
      idCol: String, sfDir: String): String =
    graft.Snapshot.cached(graft.Snapshot.path("graft_bm25incr_", sfDir,
        s"b${PostingsBuckets}_v1", "documents.parquet")) { tmp =>
      writeIncrGeneration(docs.filter(col(idCol) % 2 === 0), textCol, idCol, tmp)
      bm25Append(docs.filter(col(idCol) % 2 === 1), textCol, idCol, tmp)
    }

  // ---- VERSIONED store: generations + tombstones = deletes ---------------
  // The delta-loop format (VERDICT r15 #1). Postings/doclen rows carry a
  // generation stamp; a delete appends an (id, before_gen) tombstone — a
  // row is live iff gen >= the id's greatest before_gen, so delete + re-add
  // at the same generation compose (the changed-document path: gen-0 rows
  // die, the gen-1 re-add survives). Globals stay mergeable partials; a
  // delete appends a NEGATIVE partial computed from the dying doclen rows
  // (one filtered pass over doclen — the honest cost of deletes), so
  // (n, avgdl) reflect exactly the live corpus. Nothing is ever rewritten
  // in place; StoreCompaction folds generations and a compaction pass can
  // apply tombstones physically the same way.

  /** One gen-stamped generation: same frames as [[bm25Append]], plus the
    * `gen` column on postings and doclen. */
  def bm25WriteVersioned(docs: DataFrame, textCol: String, idCol: String,
      storeDir: String, gen: Int): Unit = {
    val (postings, dl, globals) = incrFrames(docs, textCol, idCol)
    postings.withColumn("gen", lit(gen))
      .write.mode("append").partitionBy("t_bucket").parquet(storeDir + "/postings")
    dl.withColumn("gen", lit(gen)).write.mode("append").parquet(storeDir + "/doclen")
    // globals partials carry the gen too (r17): an as-of-g probe sums
    // exactly the partials with gen <= g — same O(partials) merge, no
    // doclen rescan. The current-view probe ignores the column.
    globals.withColumn("gen", lit(gen))
      .write.mode("append").parquet(storeDir + "/globals")
  }

  /** Tombstone `ids` (one `id` column): their rows with gen < `beforeGen`
    * die. Plain-append variant for SINGLE-SHOT use inside an
    * atomically-published build (the IncrementalPipeline store gate): a
    * replay there rebuilds the whole tmp dir, so the two appends are
    * never re-run against their own residue. Anything that can REPLAY a
    * delete against a live store (a streaming micro-batch, a restarted
    * job) must use [[bm25DeleteVersionedKeyed]] — replaying THIS function
    * would stack a second negative globals partial. */
  def bm25DeleteVersioned(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, ids: DataFrame, beforeGen: Int): Unit = {
    val dying = DeltaStore
      .alive(spark, spark.read.parquet(storeDir + "/doclen"),
        storeDir + "/tomb", "id")
      .filter(col("gen") < beforeGen)
      .join(ids.select(col("id")), Seq("id"), "left_semi")
    // the negative partial belongs to generation `beforeGen`: the rows it
    // retracts die exactly when that generation's view begins
    dying.agg((-count(lit(1))).as("n_part"),
        (-coalesce(sum(col("dl")), lit(0L))).as("dl_sum"))
      .withColumn("gen", lit(beforeGen))
      .write.mode("append").parquet(storeDir + "/globals")
    DeltaStore.tombstone(ids, beforeGen, storeDir + "/tomb")
  }

  /** Gen-stamped, replay-idempotent append — the streaming-CDC write:
    * same frames as [[bm25WriteVersioned]], published with tag-named
    * generation files so a replayed micro-batch replaces its own files
    * ([[StoreCompaction.appendKeyed]], the bm25AppendKeyed discipline). */
  def bm25AppendVersionedKeyed(delta: DataFrame, textCol: String,
      idCol: String, storeDir: String, gen: Int, tag: String): Unit = {
    val (postings, dl, globals) = incrFrames(delta, textCol, idCol)
    StoreCompaction.appendKeyed(postings.withColumn("gen", lit(gen)),
      storeDir + "/postings", Seq("t_bucket"), tag)
    StoreCompaction.appendKeyed(dl.withColumn("gen", lit(gen)),
      storeDir + "/doclen", Nil, tag)
    StoreCompaction.appendKeyed(globals.withColumn("gen", lit(gen)),
      storeDir + "/globals", Nil, tag)
  }

  /** REPLAY-IDEMPOTENT delete — the live-store/streaming path. The dying
    * set is computed against every tombstone EXCEPT this tag's own rows
    * (so it is the SAME set in every crash state: nothing written, partial
    * only, or both), and both writes publish through
    * [[StoreCompaction.appendKeyed]] with tag-named files — a replay
    * replaces its own generation instead of stacking a second negative
    * partial. Convergence is pinned in IncrementalPipelineSpec. */
  def bm25DeleteVersionedKeyed(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, ids: DataFrame, beforeGen: Int, tag: String): Unit = {
    val tombDir = storeDir + "/tomb"
    val others =
      if (!DeltaStore.hasData(tombDir)) None
      else Some(spark.read.parquet(tombDir).filter(col("tag") =!= tag))
    val dl = spark.read.parquet(storeDir + "/doclen")
    val dying = others.fold(dl)(t => DeltaStore.aliveAgainst(dl, t, "id"))
      .filter(col("gen") < beforeGen)
      .join(ids.select(col("id")), Seq("id"), "left_semi")
    val neg = dying.agg((-count(lit(1))).as("n_part"),
        (-coalesce(sum(col("dl")), lit(0L))).as("dl_sum"))
      .withColumn("gen", lit(beforeGen))
    StoreCompaction.appendKeyed(neg, storeDir + "/globals", Nil, s"del-$tag")
    StoreCompaction.appendKeyed(
      ids.select(col("id"), lit(beforeGen).as("before_gen"), lit(tag).as("tag")),
      tombDir, Nil, tag)
  }

  /** Probe over the versioned store: the same partition-pruned postings
    * read as [[bm25TopKIndexed]] plus the liveness join (tombstone
    * manifests are delta-sized), globals merged over positive AND negative
    * partials — identical scoring tree, so the output equals a fresh index
    * of the live corpus (bit-parity pinned in IncrementalPipelineSpec;
    * oracled end-to-end by `train_incremental_e2e`). */
  def bm25TopKVersionedStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "query terms must be non-empty and distinct")
    val buckets = queryTerms.map(termBucket).distinct
    val tf = DeltaStore.alive(spark,
        spark.read.parquet(storeDir + "/postings")
          .filter(col("t_bucket").isin(buckets: _*) &&
            col("t").isin(queryTerms: _*)),
        storeDir + "/tomb", "id")
      .select(col("id"), col("t"), col("tf"))
    val dl = DeltaStore.alive(spark, spark.read.parquet(storeDir + "/doclen"),
        storeDir + "/tomb", "id")
      .select(col("id"), col("dl"))
    val g = spark.read.parquet(storeDir + "/globals")
      .agg(sum(col("n_part")).as("n"),
        (sum(col("dl_sum")).cast("double") / sum(col("n_part"))).as("avgdl"))
    scoreTf(tf, dl, g, queryTerms, k1, b, k)
  }

  // ---- generation lifecycle (VERDICT r16 #6): time travel + retention ----
  // The gen stamps make the versioned store a log: every generation's view
  // is reconstructible until a retention pass physically folds it away.
  // These two are the lakehouse contract's halves — the auditor's
  // "the index as of gen g" probe, and the GC that bounds storage while
  // recording exactly which views it destroyed.

  /** [[bm25TopKVersionedStore]] as of generation `asOfGen`: rows with
    * gen <= g, tombstones with before_gen <= g, globals partials with
    * gen <= g — the same O(partials) merge and partition-pruned postings
    * read, one extra min/max-pruned predicate per scan. Rejects LOUDLY
    * when a retention pass has folded the requested view away (silently
    * returning the newer view would be an audit-integrity bug). */
  def bm25TopKVersionedStoreAsOf(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, queryTerms: Seq[String], asOfGen: Int,
      k1: Double = 1.2, b: Double = 0.75, k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "query terms must be non-empty and distinct")
    val floor = StoreCompaction.readAsOfFloor(storeDir)
    require(asOfGen >= floor,
      s"as-of generation $asOfGen was folded away by retention " +
        s"(floor is $floor) — the store no longer holds that view")
    val tombDir = storeDir + "/tomb"
    def aliveAsOf(rows: DataFrame, idCol: String): DataFrame = {
      val bounded = rows.filter(col("gen") <= asOfGen)
      if (!DeltaStore.hasData(tombDir)) bounded
      else DeltaStore.aliveAgainst(bounded,
        spark.read.parquet(tombDir).filter(col("before_gen") <= asOfGen),
        idCol)
    }
    val buckets = queryTerms.map(termBucket).distinct
    val tf = aliveAsOf(spark.read.parquet(storeDir + "/postings")
        .filter(col("t_bucket").isin(buckets: _*) &&
          col("t").isin(queryTerms: _*)), "id")
      .select(col("id"), col("t"), col("tf"))
    val dl = aliveAsOf(spark.read.parquet(storeDir + "/doclen"), "id")
      .select(col("id"), col("dl"))
    val g = spark.read.parquet(storeDir + "/globals")
      .filter(col("gen") <= asOfGen)
      .agg(sum(col("n_part")).as("n"),
        (sum(col("dl_sum")).cast("double") / sum(col("n_part"))).as("avgdl"))
    scoreTf(tf, dl, g, queryTerms, k1, b, k)
  }

  /** Retention GC: physically fold every tombstone with
    * before_gen <= `minGen` into postings and doclen (rows dead as of
    * `minGen` are dead at every later generation, so all as-of views
    * >= `minGen` survive bit-identical), prune those rows from the
    * manifest, and record the floor. Probes for generations below
    * `minGen` fail loudly from then on. Idempotent; a crash between the
    * folds leaves probes correct (the manifest outlives the fold — the
    * [[StoreCompaction.foldTombstones]] conservative direction). */
  def bm25RetainGenerations(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, minGen: Int): Unit = {
    StoreCompaction.foldTombstones(spark, storeDir + "/postings",
      storeDir + "/tomb", "id", maxBeforeGen = minGen)
    StoreCompaction.foldTombstones(spark, storeDir + "/doclen",
      storeDir + "/tomb", "id", maxBeforeGen = minGen)
    StoreCompaction.pruneManifest(spark, storeDir + "/tomb", minGen)
    StoreCompaction.writeAsOfFloor(storeDir, minGen)
  }
}
