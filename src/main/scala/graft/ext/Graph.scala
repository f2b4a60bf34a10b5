package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — the second graph operator
  * beside [[Dedup.connectedComponents]]' min-label propagation. On a
  * training-data pipeline the near-dup graph's centrality ranks boilerplate
  * hubs (templates/licenses near-duplicated across many sources score
  * high), feeding removal or downweighting decisions.
  */
object Graph {

  /** Materialization-barrier cadence for iterative loops: checkpoint every
    * k-th round, not every round (VERDICT r12 #3 — the barrier count, not
    * the compute, dominated pageRank's wall time). */
  val CheckpointEvery = 3

  /** PageRank over an UNDIRECTED edge list (id1, id2), `iterations` fixed
    * power-iteration rounds at damping `d`:
    *
    *   rank'(v) = (1-d)/N + d * Σ_{u~v} rank(u)/deg(u)
    *
    * restricted to nodes with at least one edge (so there are no dangling
    * nodes — symmetrized edges give every node out-degree = degree).
    *
    * Determinism fence: scores are QUANTIZED (round 10 dp) after every
    * iteration, the same move as the IVF refinement's quantized means — a
    * float sum's value depends on reduction order, and per-iteration
    * quantization keeps both engines (and any two cluster runs) on the
    * same trajectory; neighbor sums are degree-sized, so the pre-rounding
    * spread (~1e-16·deg) sits far below the 5e-11 rounding boundary.
    *
    * Scale shape: per iteration ONE equi-join (edges ⋈ ranks on the
    * source) and one dst-keyed aggregate — both key-partitioned. Ranks are
    * localCheckpointed every [[CheckpointEvery]] rounds (and on the last):
    * the quantization fence needs a DETERMINISTIC frame per round, not a
    * MATERIALIZED one — each round's own rounding absorbs its reduction-
    * order spread whether the round runs lazily inside the next barrier's
    * job or eagerly (VERDICT r12 #3). Between barriers the plan is a chain
    * of ≤[[CheckpointEvery]] join+agg stages evaluated ONCE at the barrier
    * (each lazy generation has exactly one consumer — no recompute), so 10
    * serial materialization barriers collapse to 4 with identical output.
    * A barrier's blocks are freed once the next barrier materializes; only
    * the final generation (plus sym/deg) is rotation-registered. The
    * driver sees one scalar (the node count). */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, checkpointKey: String = "Graph.pageRank"): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    pageRankBody(edges, iterations, damping, checkpointKey)
  }

  private def pageRankBody(edges: DataFrame, iterations: Int,
      damping: Double, checkpointKey: String): DataFrame = {
    val spark = edges.sparkSession
    // r17 (guide §2.4): pre-partition the symmetrized edges by the
    // iteration join key BEFORE checkpointing — localCheckpoint preserves
    // outputPartitioning in its LogicalRDD, so every round's edge⋈rank
    // join re-exchanges only the (node-sized) rank frame, never the edge
    // list — and fold the degree in ONCE, so each round runs one join
    // instead of two. Was per round: edge exchange + 2 joins; now: one
    // rank exchange + 1 join + the dst-keyed aggregate.
    val symP0 = edges.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(edges.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct()
      .repartition(col("src"))
      .localCheckpoint()
    // r18 (VERDICT r17 #1): the edge-building pipeline above runs under the
    // session's normal adaptive config; the LOOP below runs with AQE off
    // and a shuffle-partition count derived from the MEASURED edge bytes,
    // the way AQE's coalescing would size it (advisory byte target,
    // parallelism-first floor). Under AQE every exchange is a separately
    // submitted driver job — 44 jobs/run for this lane, each a blocking
    // round-trip, on pre-partitioned frames whose partitioning and join
    // strategy are pinned by construction. With the loop conf pinned, each
    // barrier is ONE job whose byte-right stages schedule inside the DAG.
    // The partition COUNT is scale-neutral (bytes/advisory with a
    // parallelism floor, never a local constant), but AQE off also gives
    // up its skew handling: no skew-join split of an oversized partition
    // of the src-keyed merge join, and no runtime re-sizing of the
    // partitions of the dst-keyed rank aggregate (here) or of the
    // neighbour-min aggregate (Dedup.connectedComponents). A hub node's
    // rows all land in one partition; map-side partial aggregation folds
    // them to one row per map task before the shuffle. Accepted at the
    // inventory's sizes: the input is the near-dup graph, 257 edges at
    // sf0.1 (one loop partition locally) up to 23M at sf10, and PLANS.md
    // measured the lane's wall growing x44.8 for x90,650 edges over that
    // span (~0.9 us per edge-iteration at sf10): per-job driver latency,
    // not a straggler task, bounds the loop. A heavy-tailed graph large
    // enough for per-task time to dominate wants AQE back on the loop (or
    // salted hub keys).
    Dedup.withAqeOff(spark) {
    val p = Dedup.loopPartitions(symP0)
    val symP = if (p >= symP0.rdd.getNumPartitions) symP0 else {
      val r = symP0.repartition(p, col("src")).localCheckpoint()
      Dedup.unpersistCheckpoint(symP0)
      r
    }
    Dedup.withShufflePartitions(spark, symP.rdd.getNumPartitions) {
    // r18 (VERDICT r17 #1 — the loop lanes are driver-latency-bound): the
    // degree aggregate is CO-PARTITIONED with symP's checkpoint (no
    // exchange), and the node count rides the degree checkpoint's
    // materialization as an observed metric instead of a separate count()
    // job — one blocking driver round-trip fewer before the loop.
    // (DedupSpec pins that eager localCheckpoint delivers observe metrics.)
    val obs = org.apache.spark.sql.Observation()
    val deg = symP.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint()
    val n = Dedup.observedLong("n", obs.get("n"))
    if (n == 0) { // edgeless graph: empty rank frame, same schema
      Dedup.rotateCheckpoints(checkpointKey, symP, deg)
      symP.select(col("src").as("id"), lit(0.0).as("rank")).limit(0)
    } else {
    // co-partitioned join (both sides hash(src) from the checkpoints) —
    // zero exchanges in this barrier's job. SORT the edge frame by the
    // join key before checkpointing (LogicalRDD preserves outputOrdering
    // like it preserves partitioning): each round's merge join then sorts
    // only the node-sized rank frame, never the edges.
    val sym = symP.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .sortWithinPartitions(col("src"))
      .localCheckpoint()
    // symP's blocks are dead once the degree-attached edge frame exists
    // (deg still reads its own checkpoint; ranks round 1 reads deg's)
    Dedup.unpersistCheckpoint(symP)
    var ranks = deg.select(col("src").as("id"), lit(1.0 / n).as("rank"))
    // a barrier's checkpoint blocks are dead the moment the next barrier's
    // eager localCheckpoint materializes (the new frame is a fresh
    // LogicalRDD, it never re-reads the old blocks) — free them immediately
    // instead of retaining every generation until the next invocation's
    // rotation (the connectedComponents discipline). Only loop-created
    // checkpoints are freed here: the round-1 `ranks` is a lazy projection
    // over `deg`, whose blocks later rounds still read.
    var prevLoopCkpt: DataFrame = null
    for (i <- 1 to iterations) {
      // r18: force the MERGE join — both sides are already hash(src)
      // partitioned (checkpointed edges; rank frames out of the id-keyed
      // aggregate), so the SMJ is exchange-free, and the pre-sorted edge
      // checkpoint makes its sort node-side-only. The planner otherwise
      // BROADCASTS the (locally tiny) rank frame, which is a blocking
      // collect-to-driver round trip inside EVERY iteration — the reason
      // the lane was core-count-flat (VERDICT r17 #1); at real scale the
      // rank frame is node-sized and could never broadcast anyway.
      val contribs = sym
        .join(ranks.withColumnRenamed("id", "src").hint("merge"), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
      ranks = contribs.groupBy(col("id"))
        .agg(round(lit((1 - damping) / n) + lit(damping) * sum(col("c")), 10)
          .as("rank"))
      // materialize only every CheckpointEvery-th round (and the last):
      // between barriers each lazy generation has exactly one consumer, so
      // the chained join+agg stages run once inside the barrier's job —
      // same shuffles, a third of the serial materialization barriers
      if (i % CheckpointEvery == 0 || i == iterations) {
        ranks = ranks.localCheckpoint()
        if (prevLoopCkpt ne null) Dedup.unpersistCheckpoint(prevLoopCkpt)
        prevLoopCkpt = ranks
      }
    }
    // register only the frames the returned plan (or a re-invocation) can
    // still touch: sym, deg, and the final ranks generation
    Dedup.rotateCheckpoints(checkpointKey, sym, deg, ranks)
    ranks.select(col("id"), round(col("rank"), 6).as("rank"))
    } // else (n > 0)
    } // withShufflePartitions
    } // withAqeOff
  }

  /** Per-node triangle counts over an UNDIRECTED edge list (id1, id2).
    * On the near-dup graph a node's triangle count separates genuine
    * duplicate FAMILIES (cliques — every pair detected) from chains of
    * borderline pairs (A~B~C where A~C missed the threshold): survivor
    * election and cluster-quality audits read it as a cohesion signal.
    *
    * Algorithm: the degree-ordered node-iterator. Edges are canonicalized
    * (a < b, distinct), each node's degree computed, and every edge
    * oriented from the LOWER (deg, id) endpoint to the higher. Wedges are
    * then pairs of out-edges sharing a source, and a triangle is a wedge
    * whose far endpoints are themselves an oriented edge — each triangle
    * found exactly once, from its lowest-ranked vertex. Orienting by
    * degree bounds each node's out-degree by O(sqrt(|E|)) on any graph
    * (arboricity bound), so a power-law hub with degree 10^6 contributes
    * wedges only as a DESTINATION — the wedge fan-out that makes the naive
    * id-ordered variant quadratic on skewed graphs never materializes.
    * Three equi-joins on node keys, no all-pairs; the driver sees nothing.
    *
    * Returns (id, n_tri) for nodes in >= 1 triangle, one row per node. */
  def triangleCounts(edges: DataFrame,
      checkpointKey: String = "Graph.triangles"): DataFrame = {
    val canon = edges.select(
        least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"))
      .filter(col("a") < col("b")) // drop self-loops: no triangle uses one
      .distinct()
    val deg = canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // (deg, id) is a total order: orient low -> high, carrying the
    // destination's rank so the wedge join below needs no extra lookup
    val ranked = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val out = ranked.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddeg").as("ddeg"))
      // r17: pre-partition by the wedge key before the checkpoint (which
      // preserves partitioning) — the wedge self-join below then runs with
      // ZERO exchanges on either side
      .repartition(col("src"))
      .localCheckpoint()
    val left = out.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val right = out.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = left.join(right, Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val tri = wedges.join(
        out.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("u"), col("v"), col("w"))
    val counts = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    Dedup.rotateCheckpoints(checkpointKey, out)
    counts
  }
}
