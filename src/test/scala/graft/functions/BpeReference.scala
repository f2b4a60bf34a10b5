package graft.functions

import scala.collection.mutable.ArrayBuffer

import graft.functions.Bpe.BpeTable

/** The pre-r17 string-keyed BPE merge loop, kept verbatim as the ground
  * truth for BpeSpec's differential: the interned loop in [[Bpe]] must be
  * output-identical to it in every mode. */
object BpeReference {

  /** One seed token per Unicode CODE POINT. */
  private def seedTokens(text: String): Array[String] = {
    val out = new ArrayBuffer[String](text.length)
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val n = Character.charCount(cp)
      out += text.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  def encodeReference(text: String, table: BpeTable): Array[String] =
    encodeTokens(seedTokens(text), table)

  /** The merge loop over an arbitrary seed-token array — shared by the
    * code-point and byte seedings (reference path). */
  private def encodeTokens(seed: Array[String], table: BpeTable): Array[String] = {
    var toks: Array[String] = seed
    // toMap keeps the LAST rank of a duplicated pair
    val rank = table.merges.zipWithIndex.toMap
    while (toks.length > 1) {
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = rank.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) return toks
      val (l, r) = table.merges(best)
      val merged = l + r
      val out = new ArrayBuffer[String](toks.length)
      var j = 0
      while (j < toks.length) {
        if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
          out += merged; j += 2
        } else { out += toks(j); j += 1 }
      }
      toks = out.toArray
    }
    toks
  }

  /** Reference twin of [[encodeSegmented]] (pre-r17 loop, verbatim). */
  def encodeSegmentedReference(text: String,
      table: BpeTable): Array[String] = {
    val ops = table.operandCodePoints
    val out = new ArrayBuffer[String](text.length / 2 + 1)
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (!ops.contains(cp)) {
        val n = Character.charCount(cp)
        out += text.substring(i, i + n) // breaker: singleton token in place
        i += n
      } else {
        var j = i
        while (j < text.length && ops.contains(text.codePointAt(j)))
          j += Character.charCount(text.codePointAt(j))
        out ++= encodeReference(text.substring(i, j), table)
        i = j
      }
    }
    out.toArray
  }

  /** One seed token per UTF-8 BYTE (2 lowercase hex chars each) — the
    * GPT-2/LLaMA seeding: every byte is in the base vocabulary, so there
    * is no unknown token, only unmerged bytes (byte fallback). */
  private def seedByteTokens(text: String): Array[String] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = f"${bytes(i) & 0xff}%02x"; i += 1 }
    out
  }

  /** Reference twin of [[encodeBytes]] (pre-r17 loop, verbatim). */
  def encodeBytesReference(text: String,
      table: BpeTable): Array[String] =
    encodeTokens(seedByteTokens(text), table.hexed)

  /** Reference twin of [[encodeBytesSegmented]] (pre-r17 loop, verbatim). */
  def encodeBytesSegmentedReference(text: String,
      table: BpeTable): Array[String] = {
    val ops = table.operandCodePoints
    val out = new ArrayBuffer[String](text.length / 2 + 1)
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (!ops.contains(cp)) {
        val n = Character.charCount(cp)
        out ++= seedByteTokens(text.substring(i, i + n)) // byte fallback
        i += n
      } else {
        var j = i
        while (j < text.length && ops.contains(text.codePointAt(j)))
          j += Character.charCount(text.codePointAt(j))
        out ++= encodeTokens(seedByteTokens(text.substring(i, j)), table.hexed)
        i = j
      }
    }
    out.toArray
  }

}
