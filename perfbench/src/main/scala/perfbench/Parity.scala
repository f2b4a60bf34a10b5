package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks. A streamed load is compared block by block with a batch
  * replay of the same messages; a lane's result is reduced to a row count
  * and an order-independent digest and compared with the manifest. */
object Parity {

  /** One sink row, keyed by the block that carried it. */
  final case class BlockRow(table: String, blockNum: Long, blockId: String, values: Seq[String])

  /** `rows`: rows the replay produced, the pipeline's expected output. */
  final case class Report(attempted: Int, failed: Int, details: Seq[String], rows: Int = 0)

  private def rowKey(r: BlockRow): String =
    (r.table +: r.values).map(v => if (v == null) "\u0000" else v).mkString("\u0001")

  /** Every block present on either side is one attempt; a block whose rows
    * are missing, extra or different counts as failed, and so does a
    * recovered cursor other than the replay's. */
  def check(expected: Seq[BlockRow], landed: Seq[BlockRow],
      expectedCursor: Option[(Long, String)], landedCursor: Option[(Long, String)]): Report = {
    def byBlock(rows: Seq[BlockRow]): Map[(Long, String), Seq[String]] =
      rows.groupBy(r => (r.blockNum, r.blockId)).map { case (k, rs) => k -> rs.map(rowKey).sorted }
    val e = byBlock(expected)
    val l = byBlock(landed)
    val blocks = (e.keySet ++ l.keySet).toSeq.sorted
    val bad = blocks.filter(k => e.get(k) != l.get(k)).map { k =>
      val what = (e.get(k), l.get(k)) match {
        case (Some(_), None) => "missing"
        case (None, Some(_)) => "extra"
        case _ => "different"
      }
      s"block ${k._1}/${k._2} $what"
    }
    val cursorBad =
      if (expectedCursor == landedCursor) Seq.empty
      else Seq(s"cursor ${landedCursor.getOrElse("none")} expected ${expectedCursor.getOrElse("none")}")
    Report(blocks.size + 1, bad.size + cursorBad.size, (bad ++ cursorBad).take(20), expected.size)
  }

  /** Replay frame (block_num, block_id, cursor, columns…) → rows keyed by
    * block, values in `columns` order. */
  def replayRows(table: String, df: DataFrame, columns: Seq[String]): Seq[BlockRow] =
    df.select("block_num", ("block_id" +: columns): _*).collect().toSeq.map { r =>
      BlockRow(table, r.getLong(0), r.getString(1), columns.indices.map(i => String.valueOf(r.get(i + 2))))
    }

  // ---- lane digests

  /** Stable text of one value. Floating point keeps 9 significant digits,
    * so a last-bit difference from a different summation order does not
    * read as a different result. */
  def valueText(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toPlainString
    case f: Float => valueText(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(valueText).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => valueText(k) + "->" + valueText(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(valueText).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-independent digest of a result: the sum of its rows' 64-bit
    * hashes, as 16 hex digits. */
  def digest(rows: Iterator[Row]): (Long, String) = {
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val text = r.toSeq.map(valueText).mkString("\u0001")
      val h = scala.util.hashing.MurmurHash3.stringHash(text)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(text, 0x5bd1e995)
      sum += (h.toLong << 32) ^ (h2.toLong & 0xffffffffL)
      n += 1
    }
    (n, f"$sum%016x")
  }
}
