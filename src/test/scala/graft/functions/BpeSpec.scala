package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Bpe.BpeTable

/** Hand-pinned BPE merge-loop behavior (Sennrich et al. greedy best-rank
  * merges) + the codegen expression path. */
class BpeSpec extends SparkSpec {

  test("greedy merge order follows rank, not position") {
    val t = Bpe.fixtureTable
    // (a,t) rank 2 beats (d,a) rank 13: "data" never forms one token
    assert(Bpe.encode("data", t).toSeq === Seq("d", "at", "a"))
    assert(Bpe.encode("the", t).toSeq === Seq("the"))
    assert(Bpe.encode("value ", t).toSeq === Seq("value "))
    assert(Bpe.encode("", t).toSeq === Seq.empty)
    assert(Bpe.encode("zzz", t).toSeq === Seq("z", "z", "z")) // nothing ranked
  }

  test("overlapping occurrences merge left-to-right") {
    val t = BpeTable(Seq("a" -> "a"))
    assert(Bpe.encode("aaa", t).toSeq === Seq("aa", "a"))
    assert(Bpe.encode("aaaa", t).toSeq === Seq("aa", "aa"))
  }

  test("creation-order chains compose") {
    val t = BpeTable(Seq("a" -> "b", "ab" -> "c", "abc" -> "d"))
    assert(Bpe.encode("abcd", t).toSeq === Seq("abcd"))
    assert(Bpe.encode("abab", t).toSeq === Seq("ab", "ab"))
  }

  test("sqlValues escapes apostrophe merges (r13 review)") {
    val t = BpeTable(Seq("'" -> "s", "a" -> "'s"))
    assert(t.sqlValues === "('''','s',0), ('a','''s',1)")
  }

  test("non-BMP characters seed as whole code points, not surrogate halves (advice r13)") {
    val t = Bpe.fixtureTable
    val rocket = new String(Character.toChars(0x1F680)) // outside the BMP
    // each seed token must be a valid code point — pre-fix, text.map(_.toString)
    // split the rocket into two lone surrogates
    assert(Bpe.encode(rocket + rocket, t).toSeq === Seq(rocket, rocket))
    val mixed = Bpe.encode(s"the$rocket", t).toSeq
    assert(mixed === Seq("the", rocket))
    // and merges still fire across a table that ranks the non-BMP pair
    val t2 = BpeTable(Seq(rocket -> rocket))
    assert(Bpe.encode(rocket * 3, t2).toSeq === Seq(rocket * 2, rocket))
  }

  test("factorization property: segmented encode equals whole-text encode (VERDICT r13 #4)") {
    val t = Bpe.fixtureTable
    // breaker chars (not in any operand): digits, punctuation, z/y/x/q...
    val texts = Seq(
      "the scan value data batch",       // pure operand-char run
      "the1scan2value, data; batch!",    // breakers interleaved
      "zzz", "", "42", "the", " s s s ", // degenerate shapes
      "query the batch... value=7 data") // mixed realistic
    for (txt <- texts)
      assert(Bpe.encodeSegmented(txt, t).toSeq === Bpe.encode(txt, t).toSeq,
        s"factorization must be exact for '$txt'")
    // deterministic pseudo-random battery over the operand+breaker alphabet
    val alpha = "the scanvlud,;.!09zq".toCharArray
    var seed = 12345L
    def nxt(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % alpha.length).toInt }
    for (_ <- 1 to 50) {
      val txt = new String(Array.fill(1 + nxt() % 64)(alpha(nxt())))
      assert(Bpe.encodeSegmented(txt, t).toSeq === Bpe.encode(txt, t).toSeq, s"'$txt'")
    }
  }

  test("byte mode on ASCII text is the hex image of the code-point encode (VERDICT r15 #4)") {
    val t = Bpe.fixtureTable
    // toHex is injective and concatenation-compatible on ASCII, so the two
    // merge loops are isomorphic: same merges fire in the same order
    val texts = Seq("the scan value data batch", "the1scan2value, data; batch!",
      "zzz", "", "42", "the", " s s s ", "query the batch... value=7 data")
    for (txt <- texts)
      assert(Bpe.encodeBytes(txt, t).toSeq === Bpe.encode(txt, t).toSeq.map(Bpe.toHex),
        s"byte/code-point isomorphism must hold for '$txt'")
  }

  test("byte fallback: non-ASCII characters pass through as raw UTF-8 bytes") {
    val t = Bpe.fixtureTable
    // 'é' = c3 a9; no merge operand contains those bytes, so they stay
    // unmerged byte tokens — the GPT-2 property: no unknowns, only bytes
    assert(Bpe.encodeBytes("thé", t).toSeq === Seq("7468", "c3", "a9"))
    val rocket = new String(Character.toChars(0x1F680)) // f0 9f 9a 80
    assert(Bpe.encodeBytes(rocket, t).toSeq === Seq("f0", "9f", "9a", "80"))
    assert(Bpe.encodeBytes(s"the$rocket", t).toSeq ===
      Seq("746865", "f0", "9f", "9a", "80"))
  }

  test("byte-mode factorization: segmented equals whole-bytes encode, unicode included") {
    val t = Bpe.fixtureTable
    val texts = Seq("the scan value data batch", "thé välue",
      new String(Character.toChars(0x1F680)) * 3 + "the", "", "zü42")
    for (txt <- texts)
      assert(Bpe.encodeBytesSegmented(txt, t).toSeq === Bpe.encodeBytes(txt, t).toSeq,
        s"byte factorization must be exact for '$txt'")
    val alpha = "the scanvlud,;.!09zqéü".toCharArray
    var seed = 98765L
    def nxt(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % alpha.length).toInt }
    for (_ <- 1 to 50) {
      val txt = new String(Array.fill(1 + nxt() % 64)(alpha(nxt())))
      assert(Bpe.encodeBytesSegmented(txt, t).toSeq === Bpe.encodeBytes(txt, t).toSeq, s"'$txt'")
    }
  }

  test("byte mode rejects non-ASCII operand tables at column build") {
    val bad = BpeTable(Seq("é" -> "s"))
    assertThrows[IllegalArgumentException] {
      Bpe.bpe_encode_bytes(col("text"), bad)
    }
  }

  test("training equivalence: full-table encode == stage-wise single-pass application (train_bpe_learn oracle premise)") {
    // the oracle's closed-form per-stage apply: one left-to-right pass,
    // all disjoint matches merge, no re-merge within the stage
    def applyOnce(toks: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i < toks.length - 1 && toks(i) == l && toks(i + 1) == r) { out += l + r; i += 2 }
        else { out += toks(i); i += 1 }
      }
      out.toSeq
    }
    // mini Sennrich trainer over a word histogram (same tie-break as the
    // lane: count DESC, lhs, rhs) — includes l==r runs and chain merges
    val corpus = Seq("the scan value" -> 3L, "batch the data" -> 2L,
      "aaaa ab aab aaa" -> 4L, "zzz the value" -> 1L, "thethe ther" -> 2L)
    val words: Map[String, Long] = corpus.flatMap { case (s, c) => s.split(" ").toSeq.map(_ -> c) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).sum }
    var state: Map[String, Seq[String]] = words.keys.map(w => w -> w.map(_.toString).toSeq).toMap
    var merges = Vector.empty[(String, String)]
    for (_ <- 0 until 12) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (w, t) =>
        t.sliding(2).withFilter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + words(w)
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), _) = counts.toSeq.minBy { case ((cl, cr), c) => (-c, cl, cr) }
        merges = merges :+ (l -> r)
        state = state.map { case (w, t) => w -> applyOnce(t, l, r) }
      }
    }
    // THE property the DuckDB oracle rests on: greedy best-rank encode
    // under the complete learned table reproduces the sequential
    // stage-wise tokenization for every vocabulary word (a later merge
    // can never create an occurrence of an earlier pair — new adjacencies
    // always involve the newly created token)
    val table = Bpe.BpeTable(merges)
    words.keys.foreach { w =>
      assert(Bpe.encode(w, table).toSeq === state(w), s"word '$w' under $merges")
    }
  }

  test("expression path: codegen over a DataFrame column") {
    import spark.implicits._
    val got = Seq("data value", "batch").toDF("text")
      .select(concat_ws("|", Bpe.bpe_encode(col("text"), Bpe.fixtureTable)).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(Bpe.encode("data value", Bpe.fixtureTable).mkString("|"),
      Bpe.encode("batch", Bpe.fixtureTable).mkString("|")))
  }

  test("table1k: 1,000 creation-ordered merges; trained prefix saturates corpus words (VERDICT r14 #2)") {
    val t = Bpe.table1k
    assert(t.merges.size === 1000)
    // creation order — the oracle-equivalence precondition: every operand
    // is a single code point or the output of an EARLIER merge
    val outputs = scala.collection.mutable.HashSet.empty[String]
    t.merges.foreach { case (l, r) =>
      for (op <- Seq(l, r))
        assert(op.codePointCount(0, op.length) == 1 || outputs.contains(op),
          s"operand '$op' is multi-char but not an earlier merge output")
      outputs += (l + r)
    }
    // trained to exhaustion: corpus words merge to a SINGLE token (deeper
    // than the 25-merge fixture ever merges), e.g. the most frequent ones
    for (w <- Seq("join", "hash", "customer", "vector", "batch"))
      assert(Bpe.encode(w, t).toSeq === Seq(w), s"'$w' must merge to one token")
    // the synthetic tail is disjoint from the corpus alphabet: lowercase
    // text never meets an A-Z0-9 operand, so those 911 ranks never apply
    assert(Bpe.encode("the batch value", t).mkString("|") ===
      "the|" + " " + "|batch|" + " " + "|value")
  }

  test("table1k factorization + flat-lookup sanity: segmented == whole-text under 40x more merges") {
    val t = Bpe.table1k
    val texts = Seq(
      "key agg row scan slow fast table value part hash",
      "batch window spark order data column agg join",
      "the1scan2value, data; batch!", "", "zzz", "A0Z9")
    for (txt <- texts)
      assert(Bpe.encodeSegmented(txt, t).toSeq === Bpe.encode(txt, t).toSeq,
        s"factorization must be exact for '$txt'")
  }

  test("r17 interned loop is output-identical to the reference loop (all modes, fuzz)") {
    // the r17 optimization replaced the string-keyed merge loop with an
    // int-interned one; the retained reference twins are the ground truth
    val rocket = new String(Character.toChars(0x1F680))
    val alphabet = "the scanvaluedata batch".toCharArray.map(_.toString) ++
      Seq("1", ",", ";", "z", "é", rocket, " ", "'")
    val rnd = new scala.util.Random(170417)
    val texts = Seq("", "a", rocket, "é", "the") ++ (1 to 60).map { _ =>
      (0 until rnd.nextInt(80)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
    }
    for (t <- Seq(Bpe.fixtureTable, Bpe.table1k); txt <- texts) {
      assert(Bpe.encode(txt, t).toSeq ===
        BpeReference.encodeReference(txt, t).toSeq, s"encode '$txt'")
      assert(Bpe.encodeSegmented(txt, t).toSeq ===
        BpeReference.encodeSegmentedReference(txt, t).toSeq, s"segmented '$txt'")
      assert(Bpe.encodeBytes(txt, t).toSeq ===
        BpeReference.encodeBytesReference(txt, t).toSeq, s"bytes '$txt'")
      assert(Bpe.encodeBytesSegmented(txt, t).toSeq ===
        BpeReference.encodeBytesSegmentedReference(txt, t).toSeq, s"bytesSeg '$txt'")
    }
    // duplicate-pair tie: toMap keeps the LAST rank — the interned map must too
    val dup = BpeTable(Seq("a" -> "b", "c" -> "d", "a" -> "b"))
    for (txt <- Seq("abcd", "abab", "cdcd"))
      assert(Bpe.encode(txt, dup).toSeq === BpeReference.encodeReference(txt, dup).toSeq)
  }
}
