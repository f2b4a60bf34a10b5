package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  /** corpus with known structure: 0/1 exact dups, 2/3 near dups (one word
    * changed), 4/5 unrelated */
  private def corpus(): DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby every single day"
    val near = "the quick brown fox jumps over the lazy dog while the cat watches from the cold windowsill nearby every single day"
    val other = "completely different content about databases indexes shuffles partitions executors and the joy of distributed computing systems"
    val third = "unrelated words entirely concerning gardening tomatoes basil watering schedules and the patience required for composting"
    Seq(
      (0L, base), (1L, base), (2L, base + " extra"), (3L, near),
      (4L, other), (5L, third)
    ).toDF("doc_id", "text")
  }

  test("exact dedup: identical texts collapse, survivor is min id") {
    val groups = Dedup.exactGroups(corpus(), "text", "doc_id")
    val dupGroup = groups.filter(col("n_dups") > 1).collect()
    assert(dupGroup.length === 1)
    assert(dupGroup.head.getAs[Long]("survivor_id") === 0L)
    assert(dupGroup.head.getAs[Long]("n_dups") === 2L)
    val kept = Dedup.exactDedup(corpus(), "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 2L, 3L, 4L, 5L))
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minhashNearDups(corpus(), "text", "doc_id",
      bands = 8, rows = 4, threshold = 0.4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair must collide in every band")
    assert(pairs.contains((2L, 3L)) || pairs.contains((0L, 3L)) || pairs.contains((1L, 3L)),
      s"near-dup 3 should pair with the base family, got $pairs")
    assert(!pairs.exists(p => p._2 >= 4L && p._1 < 4L), s"unrelated docs paired: $pairs")
  }

  test("minhash signature: identical text -> identical signature; est_jaccard sane") {
    import spark.implicits._
    val df = corpus().select(col("doc_id"),
      Dedup.minhashSignature(col("text"), k = 32).as("sig"))
    val sigs = df.as[(Long, Seq[Long])].collect().toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) !== sigs(4L))
    // near-dup signatures agree on most positions
    val agree23 = sigs(2L).zip(sigs(3L)).count { case (a, b) => a == b } / 32.0
    val agree04 = sigs(0L).zip(sigs(4L)).count { case (a, b) => a == b } / 32.0
    assert(agree23 > 0.4, s"near dups agree=$agree23")
    assert(agree04 < 0.2, s"unrelated agree=$agree04")
  }

  test("simhash: near dups within small hamming, unrelated far") {
    import spark.implicits._
    val sh = corpus().select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) === 0)
    assert(ham(sh(0L), sh(3L)) <= 10, s"near dup hamming ${ham(sh(0L), sh(3L))}")
    assert(ham(sh(0L), sh(4L)) > 10, s"unrelated hamming ${ham(sh(0L), sh(4L))}")
  }

  test("simhashNearDups bucketing returns verified close pairs only") {
    val pairs = Dedup.simhashNearDups(corpus(), "text", "doc_id", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 4L)))
    assert(!pairs.contains((4L, 5L)))
  }

  test("ngram jaccard pairs: exact=1.0, near high, unrelated filtered") {
    val pairs = Dedup.ngramJaccardPairs(corpus(), "text", "doc_id", minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs((2L, 3L)) > 0.8)
    assert(!pairs.contains((0L, 4L)))
  }

  /** Brute-force shingle-set Jaccard pairs — the oracle for the prefix
    * filter: every pair above threshold, exact scores, via crossJoin. */
  private def bruteShinglePairs(docs: DataFrame, n: Int, t: Double) = {
    val sets = docs.select(col("doc_id").as("id"),
      array_distinct(Dedup.shingles(col("text"), n)).as("sh"))
    sets.select(col("id").as("id1"), col("sh").as("sh1"))
      .crossJoin(sets.select(col("id").as("id2"), col("sh").as("sh2")))
      .filter(col("id1") < col("id2"))
      .withColumn("inter",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard", col("inter") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= t)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("prefix-filter jaccard == brute force on the spec corpus") {
    val got = Dedup.jaccardPrefixPairs(corpus(), "text", "doc_id",
      n = 5, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === bruteShinglePairs(corpus(), 5, 0.5))
    assert(got.exists { case (a, b, j) => a == 0L && b == 1L && j == 1.0 },
      "exact dup pair must score 1.0")
  }

  test("prefix-filter jaccard == brute force on a randomized corpus, several thresholds") {
    import spark.implicits._
    // small vocab + planted duplicates/mutations: a mix of high-, mid-, and
    // zero-overlap pairs so both the filter and the verifier get exercised
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = Vector.fill(12)(doc(8 + rnd.nextInt(20)))
    val docs = (0 until 48).map { i =>
      val b = bases(rnd.nextInt(bases.size))
      val mutated = if (i % 3 == 0) b
      else { // replace one word
        val w = b.split(" "); w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
        w.mkString(" ")
      }
      (i.toLong, mutated)
    }.toDF("doc_id", "text")
    docs.cache().count()
    for (t <- Seq(0.25, 0.5, 0.75, 1.0)) {
      val got = Dedup.jaccardPrefixPairs(docs, "text", "doc_id", n = 3, minJaccard = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === bruteShinglePairs(docs, 3, t), s"mismatch at threshold $t")
    }
    docs.unpersist()
  }

  test("prefix-filter jaccard: short docs collapse to whole-string shingles") {
    import spark.implicits._
    // all shorter than n=5 tokens -> each set is ONE whole-string shingle;
    // Jaccard is 1.0 for identical strings, 0.0 otherwise
    val docs = Seq((0L, "tiny doc"), (1L, "tiny doc"), (2L, "other"), (3L, ""))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPrefixPairs(docs, "text", "doc_id", n = 5, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((0L, 1L, 1.0)))
  }

  test("e2e dedup pipeline: minhash pairs -> components -> known clusters") {
    // the production path at scale: banded-LSH candidate pairs feed the
    // clustering; docs 0/1/2/3 are one near-dup family, 4 and 5 are not
    val edges = Dedup.minhashNearDups(corpus(), "text", "doc_id",
      threshold = 0.5)
    val comp = Dedup.connectedComponents(edges.select(col("id1"), col("id2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(comp.get(_).contains(0L)),
      s"near-dup family should cluster under survivor 0: $comp")
    assert(!comp.contains(4L) && !comp.contains(5L),
      "unrelated docs must not enter any cluster")
  }

  test("connected components: chain, triangle, pair, transitive min labels") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, isolated pair 20-21
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id1", "id2")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) === 1L), s"chain: $comp")
    assert(Seq(10L, 11L, 12L).forall(comp(_) === 10L))
    assert(comp(20L) === 20L && comp(21L) === 20L)
    assert(comp.size === 10)
    // edge direction must not matter
    val rev = Dedup.connectedComponents(
      edges.select(col("id2").as("id1"), col("id1").as("id2"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev === comp)
  }

  test("connected components storage accounting: 1 caller-owned block-set per call, freed on unpersistCheckpoint") {
    import spark.implicits._
    val sc = spark.sparkContext
    // chain with diameter 4 forces several propagation rounds, so the loop
    // creates (and must free) several internal checkpoints per call
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("id1", "id2")

    // Assert on RDD-id SETS, not map sizes: Spark's ContextCleaner
    // asynchronously unpersists checkpoints whose frames were GC'd (e.g.
    // earlier tests' results), so absolute counts are racy — but ids WE
    // added can only be removed by our own unpersist while still referenced.
    val before = sc.getPersistentRDDs.keySet
    val r1 = Dedup.connectedComponents(edges)
    val added1 = sc.getPersistentRDDs.keySet -- before
    assert(added1.size === 1,
      "one call must leave exactly its one caller-owned checkpoint " +
        "(the loop's internal sym/round checkpoints must all be freed)")
    // the returned frame stays readable AFTER the loop unpersisted its last
    // round — this only holds because localCheckpoint() is eager (the owned
    // copy materializes before its parent blocks are dropped)
    val comp1 = r1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp1(_) === 1L) && comp1(10L) === 10L)

    val r2 = Dedup.connectedComponents(edges)
    val added2 = sc.getPersistentRDDs.keySet -- before -- added1
    assert(added2.size === 1,
      "repeated calls accumulate only their own returned checkpoints")
    assert(r2.count() === 7)

    // Dataset.unpersist() is a documented no-op for localCheckpoint blocks —
    // pin that (if Spark ever starts honoring it, the helper is redundant)
    r1.unpersist(blocking = true)
    assert((sc.getPersistentRDDs.keySet & added1) === added1,
      "Dataset.unpersist must not free localCheckpoint blocks (expected Spark behavior)")

    Dedup.unpersistCheckpoint(r1)
    Dedup.unpersistCheckpoint(r2)
    assert((sc.getPersistentRDDs.keySet & (added1 ++ added2)).isEmpty,
      "unpersistCheckpoint must free the caller-owned checkpoints")
    // (no re-read: a localCheckpoint's lineage is truncated, so a freed
    // frame is dead by design — the contract is free-after-consumption)
  }

  test("loopPartitions: measured bytes shrink a frame; unknown bytes keep its count") {
    val frame = spark.range(0, 1000, 1, 8).toDF("id")
    // no checkpoint blocks at all: size unknown, keep the 8 partitions
    assert(Dedup.loopPartitions(frame.repartition(8, col("id"))) === 8)
    // a KB-sized checkpoint: byte-derived count (below the 1 MiB minimum
    // partition size, so one partition)
    val ck = frame.repartition(8, col("id")).localCheckpoint()
    assert(Dedup.checkpointBytes(ck) > 0)
    assert(Dedup.loopPartitions(ck) === 1)
    // blocks gone (as after eviction): size unknown again, keep the 8
    Dedup.unpersistCheckpoint(ck)
    assert(Dedup.checkpointBytes(ck) === 0)
    assert(Dedup.loopPartitions(ck) === 8)
  }

  test("observedLong: null is 0, any boxed number converts, a non-number fails by name") {
    assert(Dedup.observedLong("changed", null) === 0L)
    assert(Dedup.observedLong("changed", java.lang.Long.valueOf(7)) === 7L)
    assert(Dedup.observedLong("changed", java.lang.Integer.valueOf(3)) === 3L)
    assert(Dedup.observedLong("changed", new java.math.BigDecimal("12")) === 12L)
    val e = intercept[IllegalStateException](Dedup.observedLong("changed", "many"))
    assert(e.getMessage.contains("'changed'") && e.getMessage.contains("java.lang.String"))
  }

  test("observe metrics arrive from an eager localCheckpoint, within a bounded wait") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    // the iterative loops read their convergence counts this way: the
    // observed frame is materialized only by its eager localCheckpoint
    val obs = org.apache.spark.sql.Observation()
    val df = (1 to 1000).toDF("x")
      .observe(obs, sum(when(col("x") % 2 === 0, 1L).otherwise(0L)).as("evens"))
      .localCheckpoint()
    try {
      // obs.get blocks until the metrics arrive (the loops wait unbounded):
      // bound it here, so a Spark that stops delivering them fails this
      // test instead of hanging it
      val got = Await.result(Future(obs.get)(ExecutionContext.global), 30.seconds)
      assert(Dedup.observedLong("evens", got("evens")) === 500L)
    } finally Dedup.unpersistCheckpoint(df)
  }

  test("incremental near-dup: delta vs store, store update, pruned probe") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_sigstore_spec").toString + "/store"
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "completely different content about distributed query engines and shuffles"
    val textC = "a third unique document discussing audio codecs and palette quantization"
    // generation 1: the corpus (ids 2, 4) -> persisted signature store
    Dedup.signatureStoreWrite(
      Seq((2L, textA), (4L, textB)).toDF("doc_id", "text"), "text", "doc_id", store)
    assert(Dedup.signatureStoreExists(store))
    // adaptive layout: 2 docs is nowhere near a bucket's worth, so the
    // store collapses to ONE bucket per band and records it in the sidecar
    assert(Dedup.readStoreBuckets(store) === Some(1))
    val partDirs = new java.io.File(store).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("band="))
    assert(partDirs.length <= 8, "one dir per band at tiny corpus size")

    // generation 2: one exact near-dup of doc 2, one novel doc
    val delta2 = Seq((101L, textA), (103L, textC)).toDF("doc_id", "text")
    val r2 = Dedup.incrementalNearDups(delta2, "text", "doc_id", store)
    // the store probe must be a partition-pruned scan, not a full read
    val storeScans = r2.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.output.exists(_.name == "band_hash") => s
    }
    assert(storeScans.nonEmpty && storeScans.forall(_.partitionFilters.nonEmpty),
      "the store scan must carry partition filters on (band, sig_bucket)")
    val by2 = r2.collect().map(r => r.getLong(0) ->
      (r.getBoolean(1), r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(by2(101L) === ((false, 2L, Some(2L))), "identical text must match store doc 2")
    assert(by2(103L) === ((true, 103L, None)), "novel doc keeps itself")

    // store update: append the survivor's signatures; generation 3 dups of
    // it must now be caught against the UPDATED store
    Dedup.signatureStoreWrite(delta2.filter($"doc_id" === 103L), "text", "doc_id",
      store, append = true)
    assert(Dedup.readStoreBuckets(store) === Some(1),
      "append must keep the store's recorded bucket modulus")
    val r3 = Dedup.incrementalNearDups(
      Seq((201L, textC)).toDF("doc_id", "text"), "text", "doc_id", store)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(r3(201L) === ((false, 103L)),
      "a dup of a generation-2 survivor must match the appended store entry")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store).getParentFile)
  }

  test("a store FIRST CREATED via append=true still records its bucket modulus") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_sigstore_app").toString + "/store"
    Dedup.signatureStoreWrite(
      Seq((1L, "some document text to sign and store for probing later"))
        .toDF("doc_id", "text"),
      "text", "doc_id", store, nBuckets = 7, append = true)
    assert(Dedup.readStoreBuckets(store) === Some(7),
      "append-create must write the sidecar so later probes with a " +
        "different nBuckets parameter still bucket with the store's modulus")
    // second append must NOT overwrite the recorded modulus
    Dedup.signatureStoreWrite(
      Seq((2L, "another distinct document appended to the same store"))
        .toDF("doc_id", "text"),
      "text", "doc_id", store, nBuckets = 13, append = true)
    assert(Dedup.readStoreBuckets(store) === Some(7))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store).getParentFile)
  }

  test("rotateCheckpoints frees only the SAME KEY's previous generation") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def ckpt() = Seq(1L, 2L).toDF("v").localCheckpoint()
    val gen1 = ckpt()
    val gen1Ids = sc.getPersistentRDDs.keySet -- before
    Dedup.rotateCheckpoints("rotspec_a", gen1)
    assert((sc.getPersistentRDDs.keySet & gen1Ids) === gen1Ids,
      "registering a generation must not free it")
    val other = ckpt()
    val otherIds = sc.getPersistentRDDs.keySet -- before -- gen1Ids
    Dedup.rotateCheckpoints("rotspec_b", other) // different key
    assert((sc.getPersistentRDDs.keySet & gen1Ids) === gen1Ids,
      "another key's rotation must not free this key's live generation")
    val gen2 = ckpt()
    Dedup.rotateCheckpoints("rotspec_a", gen2)
    // async unpersist: poll briefly for the old generation's blocks to drop
    val deadline = System.nanoTime() + 5e9.toLong
    while ((sc.getPersistentRDDs.keySet & gen1Ids).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert((sc.getPersistentRDDs.keySet & gen1Ids).isEmpty,
      "same-key rotation must free the previous generation")
    assert(gen2.count() === 2, "the new generation stays readable")
    // cleanup
    Dedup.rotateCheckpoints("rotspec_a")
    Dedup.rotateCheckpoints("rotspec_b")
  }

  test("contamination: shared 5-gram flags a train doc; disjoint and short docs behave") {
    import spark.implicits._
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // 5-grams
      (101L, "tiny doc")                             // < n tokens: whole-string gram
    ).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix alpha beta gamma delta epsilon suffix"), // shares 1 distinct 5-gram
      (2L, "completely different words with no overlap at all"),
      (3L, "tiny doc"),                                     // exact short copy of eval 101
      (4L, "beta gamma delta epsilon zeta and alpha beta gamma delta epsilon") // shares 2
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 3L -> 1L, 4L -> 2L), s"got $got")

    // scored form: EVERY train doc reported with its denominator + ratio
    val scored = Dedup.contaminationScored(train, eval, "text", "doc_id", n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(scored.keySet === Set(1L, 2L, 3L, 4L))
    assert(scored(1L) === ((3L, 1L, 0.333333)), s"got ${scored(1L)}")
    assert(scored(2L)._2 === 0L && scored(2L)._3 === 0.0)
    assert(scored(3L) === ((1L, 1L, 1.0)), "exact short copy: containment 1")
    assert(scored(4L)._2 === 2L)
  }

  test("componentStore: computes once, rereads from parquet, leaves no checkpoint blocks") {
    val sc = spark.sparkContext
    val path = java.nio.file.Files.createTempDirectory("graft_compstore_spec")
      .toString + "/store"
    val before = sc.getPersistentRDDs.keySet
    val r1 = Dedup.componentStore(corpus(), "text", "doc_id", path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // unlike raw connectedComponents, the store path frees the WHOLE chain:
    // consumers depend on the parquet, not on resident blocks
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "store build must free the sigs + components checkpoints")
    assert(Seq(0L, 1L, 2L, 3L).forall(r1.get(_).contains(0L)),
      s"near-dup family should cluster under survivor 0: $r1")
    // second call must be a pure parquet read (same result, no recompute):
    // poison the store dir's mtime-independent content check by verifying
    // _SUCCESS short-circuits — a recompute would need the docs frame, so
    // pass one with a different schema and rely on the read path not to
    // touch it
    val poisoned = corpus().limit(0)
    val r2 = Dedup.componentStore(poisoned, "text", "doc_id", path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 === r1, "existing store must be reread, not recomputed")
  }

  test("r17 in-row shingle spans are row-identical to the window reference") {
    import spark.implicits._
    // edge shapes: empty doc, whitespace-only doc, null text, doc shorter
    // than n, doc of exactly n tokens, normal docs, repeated tokens,
    // multi-space separators, unicode
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]),
      (4L, "one two"), (5L, "a b c d e"), (6L, "x x x x x x"),
      (7L, "  spaced   out\ttokens \n here "), (8L, "solo"),
      (9L, "héllo wörld ünicode tökens"), (10L, "Mixed CASE Words Stay lowered")
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3, 5, 12)) {
      val fast = Dedup.shingleFramePos(docs, "text", "doc_id", n)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1 else r.getInt(2), r.getString(3))).toSeq.sorted
      val ref = Dedup.shingleFramePosReference(docs, "text", "doc_id", n)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1 else r.getInt(2), r.getString(3))).toSeq.sorted
      assert(fast === ref, s"span stream must match the window reference at n=$n")
    }
    // schema parity (names, types, nullability-insensitive compare by type)
    val f = Dedup.shingleFramePos(docs, "text", "doc_id", 3).schema
    val r = Dedup.shingleFramePosReference(docs, "text", "doc_id", 3).schema
    assert(f.fields.map(x => (x.name, x.dataType)).toSeq ===
      r.fields.map(x => (x.name, x.dataType)).toSeq)
  }
}
