package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Opaque-binary ingestion over Spark's built-in `binaryFile` source — the
  * front door for multimodal corpora (image/audio/document blobs living as
  * loose files in an object store, not yet in a columnar table).
  *
  * The read path is the interesting part at 100 TB: `binaryFile` lists and
  * splits BY FILE across executors (one row per file: path, length, mtime,
  * content), so ingestion parallelism is the file count, the driver never
  * sees a payload byte, and `pathGlobFilter` prunes at the LISTING stage
  * (non-matching files are never opened). Downstream feature extraction is
  * plain column algebra over the (path, content) row — here id parse +
  * byte-length + md5, i.e. the manifest/checksum pass every blob-ingest
  * pipeline starts with (dedup by checksum, audit by size).
  *
  * Reference behavior mirrored: elric-rs ingests opaque payloads as typed
  * column bytes (src/table_info.rs ChString lanes); this lane is the same
  * contract from loose files.
  */
object BinaryIngest {

  /** Fixture: one UTF-8 `doc_<id>.txt` per document (doc_id < `maxDocs`),
    * written ON EXECUTORS into a content-keyed [[graft.Snapshot]]
    * (writer-unique temp dir + atomic rename; `_SUCCESS` marks
    * completeness). Returns the directory.
    *
    * `docs` must be the FULL documents frame of `sfDir` — the cache key is
    * the source file's identity, not the frame. Executor-side writes assume
    * the fixture directory is visible to every executor (true on local[*]
    * and on any shared-FS/DFS mount; a real blob store would use its own
    * writer here — the lane under test is the READ path). */
  def textFilesCached(docs: DataFrame, sfDir: String, maxDocs: Int = 500): String =
    graft.Snapshot.cached(graft.Snapshot.path("graft_bintxt_", sfDir,
        s"m${maxDocs}_v1", "documents.parquet")) { tmp =>
      docs.filter(col("doc_id") < maxDocs)
        .select(col("doc_id").cast("long"), col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, f"doc_${r.getLong(0)}%06d.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
    }

  /** The manifest/checksum pass over a directory of blobs: binaryFile scan
    * -> (doc_id parsed from the file name, byte length, md5 of the content).
    * `pathGlobFilter` keeps sidecars (`_SUCCESS`, crash leftovers) out at
    * the listing stage.
    *
    * Semantics pin (spec'd): ZERO-byte files never reach the manifest —
    * Spark's split planning skips empty files for every file source, so an
    * empty blob contributes no row. A pipeline that must account for empty
    * blobs has to take them from the upstream catalog, not from the scan. */
  def binaryDocManifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))

  /** Fixture for the permissive-CSV lane: (doc_id, lang, n_chars) rows for
    * doc_id < `maxDocs`, where every 37th doc's n_chars field is the
    * unparseable token `x<id>x` — a deterministic corruption the oracle
    * replays from the generation rule. Same content-keyed atomic-publish
    * discipline as [[textFilesCached]]; one CSV part-file per partition
    * (the CSV source reads the directory). */
  def csvFixtureCached(docs: DataFrame, sfDir: String, maxDocs: Int = 500): String =
    graft.Snapshot.cached(graft.Snapshot.path("graft_csvperm_", sfDir,
        s"m${maxDocs}_v1", "documents.parquet")) { tmp =>
      docs.filter(col("doc_id") < maxDocs)
        .select(col("doc_id").cast("long"), col("lang"), col("n_chars").cast("long"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val sb = new StringBuilder
          var any = false
          rows.foreach { r =>
            val id = r.getLong(0)
            val nc = if (id % 37 == 0) s"x${id}x" else r.getLong(2).toString
            sb.append(id).append(',').append(r.getString(1)).append(',')
              .append(nc).append('\n')
            any = true
          }
          if (any) {
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp,
                s"part-${java.util.UUID.randomUUID()}.csv"),
              sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          ()
        }
    }

  /** PERMISSIVE CSV ingestion stats: schema-enforced read where malformed
    * rows land in `_corrupt_record` instead of failing the job — the
    * error-budget accounting every raw-file ingest needs (the reference's
    * permissive-cast analog at the SOURCE boundary). One global summary
    * row: total/good/corrupt counts + the good rows' n_chars sum. */
  def csvPermissiveStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .agg(count(lit(1)).as("n_rows"),
        count(col("_corrupt_record")).as("n_corrupt"),
        (count(lit(1)) - count(col("_corrupt_record"))).as("n_good"),
        sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars_good"))
  }
}
