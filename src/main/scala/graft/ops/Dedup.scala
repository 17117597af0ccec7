package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A3: dedup-by-key — one vote per voter.
  *
  * The reference enforces this relationally: `UNIQUE(voter_id)` plus a
  * composite PK on `votes` (`/root/reference/main.py:53-61`, design comments
  * `main.py:51-52`), with insert failures swallowed so duplicates never
  * propagate (`voting.py:109-138`, esp. the comment at `:122-126`).
  *
  * Engine-side this becomes:
  *  - batch: a deterministic first-row-wins window dedup (oracle-checkable —
  *    `dropDuplicates` alone keeps an *arbitrary* row, SURVEY.md §7.4);
  *  - streaming: `dropDuplicates` state store, bounded by a watermark via
  *    `dropDuplicatesWithinWatermark` so state is GC'd at scale instead of
  *    growing like the reference's "Postgres remembers forever".
  */
object Dedup {

  /** Deterministic first-event-per-user: `row_number() = 1` over
    * (partition by key, order by tiebreak). One shuffle on the key; the
    * window is evaluated per-partition post-shuffle with no global sort. */
  def firstPerKey(df: DataFrame, key: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tiebreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact full-row dedup for the LLM-pipeline: group documents by content,
    * keep the smallest id, report the multiplicity. At scale this shuffles a
    * 128-bit content digest rather than the document text itself. */
  def exactByContent(docs: DataFrame, contentCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(contentCol)).as("content_md5"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies", "content_md5")
}
