package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionMemo

/** Session-memoized staged media payload tables — the mm_* seats' input
  * fixtures (real PNG/JPEG/WAV/AVI bytes synthesized per document).
  *
  * Without this, every mm seat re-ENCODES its payload inline: the PNG
  * payload was built three times per board pass (dims, brightness,
  * thumbnail) and the WAV payload twice — per-seat fixture-construction
  * cost in the timed region, with zero graded signal (the graded surface
  * is the DECODE/parse side). Staged once per (session, fixture dir,
  * kind) to scratch parquet — the media bytes become what they are in a
  * real corpus, a binary COLUMN scanned from storage — and every seat of
  * that kind reads the same immutable staging (the
  * [[graft.sources.MediaFiles]] / storage-layout discipline; the bench
  * warms the staging outside its timed region).
  *
  * The memo key carries the fixture's mtime/length fingerprint
  * ([[graft.Tables.fingerprint]]) so an in-process rewrite of a scratch
  * fixture dir misses the cache instead of serving payloads encoded
  * from the OLD documents.
  *
  * The AVI kind carries the board's sparse-media shape (clips ride every
  * EVEN doc_id) — that filter is part of the fixture definition, so it
  * lives here with the staging.
  */
object MediaPayloads {
  private val memo = SessionMemo[(String, String, Long), DataFrame]("media_payloads")

  /** The staged payload table (doc_id, media_bytes) for `kind` in
    * {png, jpg, wav, avi}. First access per (session, dir, kind) pays
    * one encode+write pass; later accesses are a resolved-relation
    * lookup. */
  def payload(spark: SparkSession, dir: String, kind: String): DataFrame =
    memo(spark, (dir, kind,
        graft.Tables.fingerprint(s"$dir/documents.parquet"))) {
      val docs = graft.Tables.documents(spark, dir)
      val df = kind match {
        case "png" | "jpg" => ImageCodec.withImagePayload(spark, docs, kind)
        case "wav"         => AudioCodec.withWavPayload(spark, docs)
        case "avi"         => VideoCodec.withAviPayload(spark,
          docs.filter(pmod(col("doc_id"), lit(2)) === 0))
        case other => sys.error(s"unknown media payload kind '$other'")
      }
      val out = graft.TmpDirs.create(s"graft_media_${kind}_")
        .resolve("payload").toString
      df.write.parquet(out)
      spark.read.parquet(out)
    }
}
