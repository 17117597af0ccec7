package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SessionMemo

/** Per-document FILE staging for the raw-file sources — the multimodal
  * ingestion path: real corpora arrive as directories of files (one
  * image/audio/text blob each), and Spark's `binaryFile` and `image`
  * datasources are how those directories become DataFrames. The fixtures
  * here are derived deterministically from the documents table (text
  * bytes; real JDK-encoded PNGs from [[graft.ext.ImageCodec]]), so a
  * DuckDB oracle over the parquet table can grade what the file sources
  * read back.
  *
  * The write is DISTRIBUTED — each task writes its partition's files
  * (local FS in local mode; any shared filesystem on a cluster), the
  * driver only names the directory. Memoized per (session, fixture dir,
  * kind): the three consumers of a staged dir share one write. */
object MediaFiles {

  private val dirs = SessionMemo[(String, String), String]("media_files")

  private def staged(spark: SparkSession, sfDir: String, kind: String)
                    (write: (SparkSession, String) => Unit): String =
    dirs(spark, (sfDir, kind), valid = SessionMemo.dirExists) {
      val dir = graft.TmpDirs.create(s"graft_files_${kind}_").toString
      write(spark, dir)
      dir
    }

  /** One `<doc_id>.bin` file per document holding the UTF-8 text bytes. */
  def textFileDir(spark: SparkSession, sfDir: String): String =
    staged(spark, sfDir, "bin") { (s, dir) =>
      import s.implicits._
      graft.Tables.documents(s, sfDir).select("doc_id", "text")
        .as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (id, text) =>
            Files.write(Paths.get(dir, s"$id.bin"), text.getBytes("UTF-8"))
            id
          }
        }.count(); ()
    }

  /** One `<doc_id>.png` file per document — the REAL JDK-encoded
    * grayscale pattern image ([[graft.ext.ImageCodec.encode]]), whose
    * dims are closed-form in doc_id. */
  def pngFileDir(spark: SparkSession, sfDir: String): String =
    staged(spark, sfDir, "png") { (s, dir) =>
      import s.implicits._
      graft.Tables.documents(s, sfDir).select("doc_id").as[Long]
        .mapPartitions { it =>
          it.map { id =>
            Files.write(Paths.get(dir, s"$id.png"),
              graft.ext.ImageCodec.encode(id, "png"))
            id
          }
        }.count(); ()
    }
}
