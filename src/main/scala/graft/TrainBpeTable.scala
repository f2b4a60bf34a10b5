package graft

import org.apache.spark.sql.functions._

/** Generates the checked-in 1,000-merge BPE table (VERDICT r14 #2: the
  * fixture lanes carry 25 merges; realistic vocabularies carry thousands,
  * and the per-char cost claim rests on the rank lookup staying flat in
  * table size).
  *
  * Two parts, both deterministic:
  *
  *  1. TRAINED PREFIX — classic Sennrich-style BPE training over the
  *     corpus word histogram (the same pair-count → argmax → merge-all
  *     rounds as the `train_bpe_learn` lane, run in-memory to exhaustion).
  *     The synthetic corpus has a closed 31-word vocabulary, so training
  *     saturates at ~150 merges when every word is a single token — every
  *     merge that CAN apply to the corpus is in the table, which makes the
  *     applied-merge depth per word maximal (words merge to completion,
  *     deeper than the 25-merge fixture ever goes).
  *  2. GENERATED TAIL — creation-ordered single-code-point pairs over an
  *     alphabet disjoint from the corpus (A–Z, 0–9), padding the table to
  *     exactly 1,000 entries. These ranks never match corpus text, which
  *     is precisely the experiment: 850 extra table entries must not move
  *     per-char encode time, because the pair→rank lookup is a hash map
  *     (measured in PLANS.md r15).
  *
  * Output: src/main/resources/graft/bpe_merges_1k.tsv ("l<TAB>r" per line,
  * creation order = rank). Loaded as [[graft.functions.Bpe.table1k]].
  * Regenerate with: sbt "runMain graft.TrainBpeTable /root/testdata/sf0.01".
  */
object TrainBpeTable {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = if (args.length > 1) args(1).toInt else 1000
    val out = if (args.length > 2) args(2)
      else "src/main/resources/graft/bpe_merges_1k.tsv"

    val spark = GraftSession.local(GraftSession.envCores)
    // ONE distributed pass: the word histogram (tiny on the closed vocab)
    val hist = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    spark.stop()

    val trained = train(hist.toSeq, k)
    val table = (trained ++ syntheticTail(k - trained.size)).take(k)
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try table.foreach { case (l, r) => w.println(s"$l\t$r") }
    finally w.close()
    println(s"wrote ${table.size} merges to $out " +
      s"(${trained.size} trained + ${table.size - trained.size} tail)")
  }

  /** In-memory BPE training to exhaustion (≤ k merges): weighted adjacent
    * pair counts over the word histogram, argmax with (count DESC, l, r)
    * ties — the `train_bpe_learn` ordering — then merge all occurrences
    * left-to-right. Stops when no adjacent pair remains. */
  def train(hist: Seq[(String, Long)], k: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] = hist.map { case (w, c) =>
      (w.map(_.toString).toArray, c) // corpus is ASCII; per-char = per-cp
    }.toArray
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (learned.size < k) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (toks, wc) =>
        var i = 0
        while (i < toks.length - 1) {
          val p = (toks(i), toks(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + wc)
          i += 1
        }
      }
      if (counts.isEmpty) return learned.toSeq
      val (l, r) = counts.toSeq
        .minBy { case ((l, r), c) => (-c, l, r) }._1
      learned += ((l, r))
      val merged = l + r
      words = words.map { case (toks, wc) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
            out += merged; j += 2
          } else { out += toks(j); j += 1 }
        }
        (out.toArray, wc)
      }
    }
    learned.toSeq
  }

  /** Creation-ordered filler: the first `k` single-char pairs over A–Z0–9
    * (an alphabet with NO adjacent occurrences in the corpus's raw text —
    * verified by scan at sf0.001/0.01/0.1, advice r15), lexicographic —
    * 1,296 available. */
  def syntheticTail(k: Int): Seq[(String, String)] = {
    val alpha = (('A' to 'Z') ++ ('0' to '9')).map(_.toString)
    (for (a <- alpha; b <- alpha) yield (a, b)).take(math.max(k, 0))
  }
}
