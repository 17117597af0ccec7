package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SessionMemo
import graft.functions.GraftExtensions.call

/** Structured-Streaming realizations of the reference pipeline (SURVEY.md
  * §2.8). The reference's Spark job is truncated right before these stages
  * (`/root/reference/spark-streaming.py:77-81`); the architecture notes
  * specify them: consume → aggregate → re-emit
  * (`.../Note_Projet1_RealTimeVotingDataEngineer.txt:34-36`).
  *
  * No Kafka connector jar exists offline (SURVEY §7.1), so the source seam
  * is the parquet *file stream source* (`readStream.parquet`) — same
  * `readStream` lineage, swap of the leaf only, and crucially the data
  * stays distributed (no driver-side materialization, so the harness
  * itself survives 100× scale). Each helper REALLY runs a streaming query
  * (micro-batches, state store, output modes) and returns the final result
  * as a batch DataFrame, which is what lets the driver's DuckDB oracle
  * grade streaming semantics. `MemoryStream` remains only in the
  * spec-facing [[runStream]] where tests need exact batch boundaries.
  */
object StreamOps {

  /** Typed event for MemoryStream (schema per `TESTDATA.md` events). */
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double)

  private val nameCounter = new AtomicLong(0)
  private def freshName(prefix: String): String =
    s"${prefix}_${nameCounter.incrementAndGet()}"

  /** The five event columns every staged events layout carries (the
    * staged files' ts was written post-[[graft.Tables.normalizeTs]], so
    * a plain TIMESTAMP declaration matches the physical type). */
  private val EventCols =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

  private def events5(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** The file stream source consumes a *directory* (a "topic" that receives
    * files over time), so a fixture table streams through a symlinked
    * topic dir — zero copy, O(1) driver work. The driver fixtures are
    * single files, linked whole. A SCALED fixture (`tools.ScaleUp`) writes
    * each table as a multi-part DIRECTORY; the file source does not recurse
    * into a subdirectory entry, so a directory linked whole would silently
    * yield an EMPTY stream (zero batches, vacuous results). Each part file
    * is linked instead: one arrival per part, so with
    * `maxFilesPerTrigger=1` the scaled run spans one micro-batch per part,
    * the multi-file arrival shape a real topic has. */
  private val topicDirs = SessionMemo[String, String]("stream_fixture_topic")

  private def fixtureTopic(spark: SparkSession, dir: String,
                           table: String): String =
    topicDirs(spark, s"$dir/$table.parquet") {
      val topic = graft.TmpDirs.create(s"graft_${table}_topic_")
      val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
      val files =
        if (Files.isDirectory(src))
          Option(src.toFile.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .map(_.toPath).toSeq
        else Seq(src)
      files.foreach(f => Files.createSymbolicLink(topic.resolve(f.getFileName), f))
      topic.toString
    }

  /** The arrival-index column a staging write partitions on. */
  private[graft] val Arrival = "__arr"

  /** The one staging write: `rows`, tagged with an integer [[Arrival]]
    * column in `0 until arrivals`, written as ONE `coalesce(1)` write
    * partitioned on it under `root` — one immutable part file per
    * arrival (the file source ingests whole files, so each is one
    * independently-offset arrival). The write is distributed; only the
    * listing happens on the driver. An arrival with no rows writes no
    * partition dir, and becomes a zero-row file in its place: the stream
    * sees it, runs the batch and adds nothing, so a degenerate fixture
    * yields the correct empty delta, not a crash. More than one part
    * file for an arrival would silently drop rows downstream, so it
    * fails the `require`. Each file sits alone in its own directory
    * (beside only `_`/`.` files, which the file source skips), so that
    * directory is itself a one-file topic. */
  private[graft] def stageArrivals(rows: DataFrame, arrivals: Int,
                                   root: Path): IndexedSeq[Path] = {
    val staged = root.resolve("staged")
    val tagged = rows.withColumn(Arrival, col(Arrival).cast("int"))
    tagged.coalesce(1).write.partitionBy(Arrival).parquet(staged.toString)
    (0 until arrivals).map { i =>
      val d = staged.resolve(s"$Arrival=$i")
      if (!Files.isDirectory(d))
        tagged.drop(Arrival).limit(0).coalesce(1).write.parquet(d.toString)
      val parts = Option(d.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length <= 1,
        s"staged arrival $d has ${parts.length} part files — the staging " +
          "write must produce one per arrival")
      parts.headOption.map(_.toPath)
        .getOrElse(sys.error(s"staging write produced no part under $d"))
    }
  }

  /** A staged layout: `rows(spark, dir)` with its [[Arrival]] column,
    * staged by [[stageArrivals]] ONCE per (session, fixture dir) under
    * the handle `name`; each harness hard-links the files into its own
    * topic at its arrival points ([[Topic]]), so the shared bytes are
    * immutable and each query's offset log tracks its own arrivals. A
    * hit whose files were cleaned from under the memo re-stages. */
  private final class Layout(val name: String, arrivals: Int,
                             rows: (SparkSession, String) => DataFrame) {
    private val memo = SessionMemo[String, IndexedSeq[Path]](name)
    def apply(spark: SparkSession, dir: String): IndexedSeq[Path] =
      memo(spark, dir, valid = _.forall(Files.exists(_))) {
        stageArrivals(rows(spark, dir), arrivals,
          graft.TmpDirs.create(s"graft_${name}_"))
      }
  }

  /** The layout registry, warmed by [[warmStagedLayouts]]. */
  private val layouts = scala.collection.mutable.ArrayBuffer.empty[Layout]
  private def layout(name: String, arrivals: Int)
                    (rows: (SparkSession, String) => DataFrame): Layout = {
    val l = new Layout(name, arrivals, rows)
    layouts += l
    l
  }

  /** A registered layout's staged files (spec hook). */
  private[graft] def stagedFiles(spark: SparkSession, dir: String,
                                 name: String): IndexedSeq[Path] =
    layouts.find(_.name == name).getOrElse(sys.error(s"no layout $name"))
      .apply(spark, dir)

  // Event-id parity halves of the five event columns: the staged layout
  // behind the two-phase durability harnesses (t1, s9, s10, t27, ...),
  // each streaming the even half, then the odd half.
  private val parityStage = layout("stream_parity_stage", 2) { (spark, dir) =>
    events5(spark, dir).withColumn(Arrival, pmod(col("event_id"), lit(2)))
  }

  // Clicks and purchases (the three join columns): each half's directory
  // is a shared immutable topic for the stream-stream join family (t10,
  // t20, t36, t38, t40) — offset logs are per query, so the per-query
  // source cost is a type-only three-column scan, not two full scans.
  private val typeStage = layout("stream_type_topic", 2) { (spark, dir) =>
    graft.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"),
        when(col("event_type") === "click", 0).otherwise(1).as(Arrival))
  }

  // User-keyed halves (`user_id % 3 != 0` first): the second batch must
  // introduce NEW state keys (t41 time-travel).
  private val userSplitStage = layout("stream_user_split", 2) { (spark, dir) =>
    events5(spark, dir).withColumn(Arrival,
      when(pmod(col("user_id"), lit(3)) =!= 0, 0).otherwise(1))
  }

  // Doc-id parity halves of (doc_id, text): the streamed corpus front end
  // (t45/t47) and t51's pre-drift arrival.
  private val docParityStage = layout("stream_doc_parity", 2) { (spark, dir) =>
    graft.Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn(Arrival, pmod(col("doc_id"), lit(2)))
  }

  // Halves split at the midpoint of the ts range: the session seats
  // (t9/t44) grade session_window state MERGING ACROSS micro-batches. A
  // parity split cannot pace them — each half spans the full ts range, so
  // after the first batch the watermark sits at max(ts) − delay and the
  // second half arrives LATE and is dropped. A time split keeps every
  // second-batch row ahead of the first batch's watermark, while sessions
  // straddling the boundary genuinely merge across the two batches.
  private val timeSplitStage = layout("stream_time_split", 2) { (spark, dir) =>
    val ev = events5(spark, dir)
    // one bounded (min, max) pair to the driver; the epoch-0 fallback
    // keeps an empty fixture on the zero-row arrival path
    val r = ev.agg(min("ts"), max("ts")).head()
    val boundaryMs =
      if (r.isNullAt(0)) 0L
      else (r.getTimestamp(0).getTime + r.getTimestamp(1).getTime) / 2
    ev.withColumn(Arrival,
      when(col("ts") <= lit(new Timestamp(boundaryMs)), 0).otherwise(1))
  }

  // t49: every document once at an ingest time set by TEXT-length parity
  // (digest-stable — a per-doc_id time would make eviction
  // nondeterministic when duplicates of one digest straddled the groups),
  // then the whole table re-delivered at the late anchor.
  private val t49Stage = layout("stream_t49_stage", 2) { (spark, dir) =>
    graft.Tables.documents(spark, dir).select("doc_id", "text")
      .withColumn(Arrival, explode(array(lit(0), lit(1))))
      .withColumn("ts", expr(s"IF($Arrival = 0, " +
        "timestamp'2024-01-01 00:00:00' + " +
        "IF(length(text) % 2 = 0, INTERVAL 0 DAY, INTERVAL 10 DAY), " +
        "timestamp'2024-01-11 00:00:00')"))
  }

  /** The session-staged `kind` payload table with every seventh payload
    * truncated to its 8-byte prefix — a REAL undecodable stub (valid
    * magic, nothing after it) for the media gates' quarantine path. */
  private def truncatedMedia(spark: SparkSession, dir: String,
                             kind: String): DataFrame =
    graft.ext.MediaPayloads.payload(spark, dir, kind)
      .withColumn("media_bytes",
        when(pmod(col("doc_id"), lit(7)) === 0,
          expr("substring(media_bytes, 1, 8)"))
          .otherwise(col("media_bytes")))

  // t50/t54: PNG/WAV payloads split by doc parity, so the admission
  // counters provably update across a batch boundary.
  private val t50Stage = layout("stream_t50_stage", 2) { (spark, dir) =>
    truncatedMedia(spark, dir, "png")
      .withColumn(Arrival, pmod(col("doc_id"), lit(2)))
  }
  private val t54Stage = layout("stream_t54_stage", 2) { (spark, dir) =>
    truncatedMedia(spark, dir, "wav")
      .withColumn(Arrival, pmod(col("doc_id"), lit(2)))
  }

  // t55: the AVI clips (even doc_ids — the sparse-media contract) split by
  // doc_id % 4, so both arrivals carry clips AND corrupt payloads.
  private val t55Stage = layout("stream_t55_stage", 2) { (spark, dir) =>
    truncatedMedia(spark, dir, "avi")
      .filter(pmod(col("doc_id"), lit(2)) === 0)
      .withColumn(Arrival, pmod(col("doc_id"), lit(4)) === 2)
  }

  // t51's post-drift arrival: the odd doc half in the WIDE layout with the
  // new `lang` column (the narrow pre-drift arrival is docParityStage's
  // even file).
  private val t51Stage = layout("stream_t51_stage", 1) { (spark, dir) =>
    graft.Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(2)) === 1)
      .select("doc_id", "text", "lang")
      .withColumn(Arrival, lit(0))
  }

  // t5b's late re-delivery: a third of the users' events, one hour older,
  // fresh event ids.
  private val t5bStage = layout("stream_t5b_stage", 1) { (spark, dir) =>
    events5(spark, dir)
      .filter(pmod(col("user_id"), lit(3)) === 0)
      .withColumn("ts", col("ts") - expr("INTERVAL 1 HOUR"))
      .withColumn("event_id", col("event_id") + lit(10000000L))
      .withColumn(Arrival, lit(0))
  }

  // t53: the dedup_incremental fixture's increment (new docs + re-keyed
  // recrawls) split by doc parity, so the triage spans a batch boundary.
  private val t53Stage = layout("stream_t53_stage", 2) { (spark, dir) =>
    val docs = graft.Tables.documents(spark, dir)
    docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select("doc_id", "text")
      .union(t53Corpus(spark, dir).filter(pmod(col("doc_id"), lit(7)) === 3)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .withColumn(Arrival, pmod(col("doc_id"), lit(2)))
  }

  /** Land a staged file in `topic` as arrival `name` — a hard link
    * (src and topics share the [[graft.TmpDirs]] scratch filesystem),
    * falling back to a copy where links are unsupported. */
  private def linkArrival(src: Path, topic: Path, name: String): Unit = {
    val dst = topic.resolve(s"$name.parquet")
    try { Files.createLink(dst, src); () }
    catch {
      // fall back to a copy only where linking is structurally
      // impossible (fs without hard links, cross-device); a duplicate
      // arrival name must surface as FileAlreadyExistsException from
      // the link attempt, not as a confusing copy-time error
      case _: UnsupportedOperationException => Files.copy(src, dst); ()
      // plain IOException covers filesystems that signal unsupported
      // hard links without the FileSystemException subclass; only the
      // duplicate-arrival-name case keeps propagating
      case e: java.io.IOException
          if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
        Files.copy(src, dst); ()
    }
  }

  /** A fresh scratch root holding an empty `topic` directory — a file
    * stream source's input. Staged files land in it as arrivals named
    * f0, f1, … in landing order (each seat lands at most four, so the
    * lexical order is the arrival order); checkpoints and sinks resolve
    * under the same root. */
  private final class Topic(prefix: String) {
    val root: Path = graft.TmpDirs.create(prefix)
    val dir: Path = Files.createDirectory(root.resolve("topic"))
    private var landed = 0
    def land(files: Path*): Unit = files.foreach { f =>
      linkArrival(f, dir, s"f$landed"); landed += 1
    }
    /** One arrival group, as a [[drain]] step. */
    def group(files: Path*): () => Unit = () => land(files: _*)
    def path(name: String): String = root.resolve(name).toString
    /** The topic as a stream; `paced` admits one file per micro-batch. */
    def read(spark: SparkSession, schema: String = EventCols,
             paced: Boolean = false): DataFrame = {
      val r = spark.readStream.schema(schema)
      (if (paced) r.option("maxFilesPerTrigger", 1) else r)
        .parquet(dir.toString)
    }
  }

  /** Stream of ONE event type from the staged split. */
  private def typedEventStream(spark: SparkSession, dir: String,
                               eventType: String): DataFrame = {
    val files = typeStage(spark, dir)
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(files(if (eventType == "click") 0 else 1).getParent.toString)
  }

  /** The last query [[drain]] ran (spec hook: its `recentProgress`
    * shows the micro-batches a seat really ran). */
  @volatile private[graft] var lastDrained: StreamingQuery = _

  /** The one start/drain/stop harness: step 0 (landing arrival group 0,
    * when there is one) runs BEFORE the query starts; the query drains
    * with processAllAvailable; then each later step (landing the next
    * group) runs and the query drains again — one group, one data
    * micro-batch, unless the source paces it finer. The query always
    * stops in `finally`; the stopped query is returned, so callers can
    * read its `name` and `recentProgress`. */
  private[graft] def drain(steps: (() => Unit)*)
                          (start: => StreamingQuery): StreamingQuery = {
    steps.headOption.foreach(_())
    val q = start
    try {
      q.processAllAvailable()
      steps.drop(1).foreach { step => step(); q.processAllAvailable() }
    } finally q.stop()
    lastDrained = q
    q
  }

  /** Start `df` into a fresh memory table `<prefix>_N`. */
  private def toMemory(df: DataFrame, prefix: String, mode: String,
                       ckpt: Option[String] = None): StreamingQuery = {
    val w = df.writeStream.format("memory").queryName(freshName(prefix))
      .outputMode(mode)
    ckpt.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** [[drain]] `df` into a fresh memory table `<prefix>_N` and read the
    * table back. `df` is built when the query starts, after step 0 has
    * landed its arrival group. */
  private[graft] def drainToTable(steps: (() => Unit)*)(df: => DataFrame,
      prefix: String, mode: String, ckpt: Option[String] = None): DataFrame = {
    val q = drain(steps: _*)(toMemory(df, prefix, mode, ckpt))
    q.sparkSession.table(q.name)
  }

  /** The probed physical `ts` type per fixture dir — the footer read costs
    * a listing + schema job per call, and every streaming query starts by
    * building this source, so memoize it (the fixture file is immutable
    * for the life of the process). */
  private val tsDecls = SessionMemo[String, String]("stream_ts_decl")

  /** Streaming view of the events table via the parquet *file stream
    * source* ([[fixtureTopic]]) — the data never touches the driver
    * (contrast: a MemoryStream feed requires a driver-side collect, an OOM
    * at 100× scale). In production the events directory keeps receiving
    * files and `maxFilesPerTrigger` paces micro-batches; here the fixture
    * drains in as many batches as it has files. Schema is declared (file
    * sources require it) by a one-time probe of the static file — the
    * testdata's physical `ts` type has varied across generations — and
    * normalized to TimestampType in-plan (see
    * [[graft.Tables.normalizeTs]]). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // see Tables.events: NTZ-as-LTZ keeps ts filters pushable to parquet
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // File sources need a declared schema; probe the static fixture once
    // (footer-only read) so the declaration matches the file's physical
    // ts type, then normalize in-plan exactly like the batch reader.
    val tsDecl = tsDecls(spark, dir) {
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType.sql
    }
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(s"event_id BIGINT, ts $tsDecl, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        // arrival metering: 1 file per micro-batch (a no-op on the
        // driver's single-file fixtures; on a multi-part scaled topic it
        // paces one band per batch)
        .option("maxFilesPerTrigger", 1)
        .parquet(fixtureTopic(spark, dir, "events")))
  }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the previous value after. Stateful streaming queries
    * fix their STATE partition count from this setting at start (and pin
    * it in the checkpoint), and every micro-batch commits one state store
    * per partition — so a query whose key space is small (users, windows,
    * join horizon) should size state to the keys, not inherit the
    * session's batch shuffle width. Purely a distribution choice: results
    * and oracle hashes are unaffected. Each seat below writes its own
    * width where it opens this scope (or [[perfScope]] /
    * [[streamTable]]); `None` keeps the session's. */
  private[graft] def withShufflePartitions[T](spark: SparkSession, n: Option[Int])
                                      (body: => T): T = n match {
    case None => body
    case Some(p) =>
      withConf(spark, Map("spark.sql.shuffle.partitions" -> p.toString))(body)
  }

  /** Run `body` with session confs temporarily set, restoring (or
    * unsetting) each afterwards. Used for query-scoped state sizing and
    * for selecting the state-store backend: the default HDFS-backed
    * provider keeps all state on the executor HEAP (fine for small key
    * spaces); at 100 TB of keyed state the production backend is
    * `RocksDBStateStoreProvider` (bundled with Spark), which spills to
    * native memory + local disk and checkpoints via changelog — the spec
    * suite pins that results are backend-independent. */
  private[graft] def withConf[T](spark: SparkSession,
                                 kvs: Map[String, String])(body: => T): T =
    // Serialized on the session: set-then-restore on the SHARED runtime
    // conf is not overlap-safe — two concurrent scopes could pin the
    // wrong state width into a checkpoint or leak an override into the
    // session. Every current driver is sequential; the lock makes the
    // scoping hold even if one isn't.
    spark.synchronized {
      // the explicit settings, not getOption: that returns a registered
      // key's default when it is unset, and restoring it would pin the
      // default as a setting
      val set = spark.conf.getAll
      val prev = kvs.keys.map(k => k -> set.get(k)).toMap
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

  /** The bundled RocksDB state-store provider. */
  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** [[withConf]] with keyed state in RocksDB, plus `extra` confs — the
    * one scope every RocksDB seat opens. */
  private[graft] def withRocksDb[T](spark: SparkSession,
                                    extra: (String, String)*)(body: => T): T =
    withConf(spark, Map("spark.sql.streaming.stateStore.providerClass" ->
      RocksDbProvider) ++ extra)(body)

  /** RocksDB changelog checkpointing (t35, t41), an extra conf of
    * [[withRocksDb]]. */
  private val Changelog =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"

  /** Run `body` with no-data micro-batches disabled. After the last data
    * batch Spark schedules one extra empty batch to let event-time
    * machinery advance — a full state-store commit round per stateful
    * operator and, in complete mode, a full re-emit of the result, for
    * zero new input. Output can only depend on it when emission is gated
    * on the watermark moving PAST the data (outer-join null emission —
    * [[streamStreamLeftOuterJoin]]) or on event-time TIMERS firing
    * ([[streamingTimeoutSessions]]); those two keep the default. Every
    * other harness here emits entirely from data batches (complete-mode
    * re-emit, append-on-arrival, or finalization triggered by the NEXT
    * data batch's watermark, as in [[lateDropHourly]]), so the empty batch
    * is pure fixed cost — on a bounded replay it was ~30-50% of several
    * queries' wall-clock. Results are oracle-identical by construction. */
  private def withNoDataBatchesOff[T](spark: SparkSession)(body: => T): T =
    withConf(spark,
      Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))(body)

  /** [[withNoDataBatchesOff]] + [[withShufflePartitions]] — the scope the
    * bespoke harnesses below run in, EXCEPT the ones whose emission
    * needs the trailing empty batch — the t15/t30 timers and the outer
    * interval joins' evictions ([[intervalJoin]]) — which use
    * [[withShufflePartitions]] alone. Keep that
    * list current: wrapping a new eviction- or timer-emitting harness
    * in this scope silently suppresses its watermark-fired rows. */
  private[graft] def perfScope[T](spark: SparkSession, statePartitions: Option[Int])
                          (body: => T): T =
    withNoDataBatchesOff(spark)(withShufflePartitions(spark, statePartitions)(body))

  /** Drive `pipeline` over `source` — the file-streamed events table
    * ([[eventStream]]) or a wire seam ([[Wire.EventSource]], where
    * swapping in [[Wire.KafkaEventSource]] is a constructor change, not a
    * pipeline change) — and return the final result table. `outputMode`
    * complete/update/append per the query shape. The memory sink holds
    * only the (small, aggregated) result — the input stream itself stays
    * distributed. No caller's emission depends on the trailing empty
    * batch, so it runs in [[perfScope]]. */
  def streamTable(spark: SparkSession, source: => DataFrame,
                  outputMode: String, statePartitions: Option[Int] = None)
                 (pipeline: DataFrame => DataFrame): DataFrame =
    perfScope(spark, statePartitions) {
      drainToTable()(pipeline(source), "graft_stream", outputMode)
    }

  /** S1+P1–P3+T3 on one GRADED path: consume Kafka-shaped binary frames
    * through the [[Wire.EventSource]] seam, run the reference's decode
    * chain (`CAST(value AS STRING)` → `from_json` → `data.*`,
    * `/root/reference/spark-streaming.py:72-74`) and the cumulative tally
    * on the decoded stream. Same oracle SQL as [[cumulativeTally]] — a
    * hash match proves the wire encode/decode is lossless, not just that
    * the tally is right. */
  def wireCumulativeTally(spark: SparkSession, dir: String): DataFrame =
    streamTable(spark, new Wire.FileEventSource(dir).load(spark), "complete",
                Some(8)) { kv =>
      val decoded = graft.ops.Decode.flatten(graft.ops.Decode.jsonDecodeDdl(
        graft.ops.Decode.castValueToString(kv),
        "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"))
      decoded.groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
             count(lit(1)).as("n_events"))
    }

  /** T1: checkpoint recovery as a graded query — the reference's
    * durability envelope (`/root/reference/voting.py:19-21` commits
    * consumer offsets; Structured Streaming's equivalent is the
    * checkpoint's offset log + state store). Phase 1 streams the even half
    * of the events into a checkpointed complete-mode aggregate, then the
    * query is STOPPED. Phase 2 drops the odd half into the topic and
    * restarts from the same checkpoint: the offset log prevents a re-read
    * of file 1, so the restarted query can only produce the full tally by
    * recovering the aggregation state — a green oracle is proof of
    * recovery, not of a silent rescan. */
  def recoverableTally(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    val t = new Topic("graft_t1_")
    val Seq(even, odd) = parityStage(spark, dir)
    def phase(arrival: Path, prefix: String) =
      drainToTable(t.group(arrival))(t.read(spark, paced = true)
        .groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
             count(lit(1)).as("n_events")),
        prefix, "complete", Some(t.path("ckpt")))
    phase(even, "graft_t1a")
    phase(odd, "graft_t1b")
  }

  /** T35: RocksDB **changelog checkpointing** under kill-and-restart —
    * the 100 TB recovery-cost knob: with changelog checkpointing ON,
    * each micro-batch uploads only the batch's state DELTA (a changelog
    * file) instead of a full SST snapshot, and recovery replays
    * changelogs over the last materialized snapshot — per-batch
    * checkpoint cost becomes O(changed keys), not O(total state), which
    * is the difference between a feasible and an infeasible commit
    * interval once keyed state reaches TB scale. Harness is the t1
    * kill-and-restart discipline over the t5 dedup pipeline: phase 1
    * streams the even half under the RocksDB provider with changelog
    * checkpointing enabled, STOPS; phase 2 drops the odd half and
    * restarts from the same checkpoint. The offset log prevents a
    * rescan of file 0, so the union of the two phases' append-mode
    * emissions equals the distinct-user set ONLY if phase 2 recovered
    * the dedup state from snapshot+changelog — a lost store would
    * re-emit the even half's users as duplicates and break the hash.
    * Same oracle as t5: the checkpoint-format swap is semantics-free. */
  def changelogRecoverDedup(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark, Changelog) {
      perfScope(spark, Some(8)) {
        val t = new Topic("graft_t35_")
        // append-mode emissions land in a FILE sink (the s9 shape): the
        // memory sink refuses checkpoint recovery in append mode, and
        // the sink log doubles as the exactly-once witness
        val out = t.path("out")
        val Seq(even, odd) = parityStage(spark, dir)
        def start() =
          t.read(spark, paced = true)
            .dropDuplicates("user_id").select("user_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", t.path("ckpt"))
            .outputMode("append")
            .start()
        drain(t.group(even))(start())
        drain(t.group(odd))(start())
        spark.read.parquet(out)
      }
    }

  /** T41: state TIME-TRAVEL over the t35 changelog checkpoint — the
    * state data source's historical options, the surface a 100 TB
    * deployment uses for state audits AFTER an incident ("what did the
    * store hold before the bad deploy's batch?"): t27/t39 read the
    * LATEST state; this seat reads state **as-of an earlier batch**
    * (`batchId`) and the **change feed** between batches
    * (`readChangeFeed` + `changeStartBatchId`), both reconstructed from
    * snapshot + changelog replay — the replay path only changelog
    * checkpointing makes cheap. Harness: the t5 dedup pipeline drains a
    * USER-keyed split (batch 0 = every event of users with `user_id % 3
    * ≠ 0`, batch 1 = every event of the remaining users — the parity
    * split would leave batch 1 with zero NEW users at every SF, making
    * the feed vacuous) as two paced micro-batches under RocksDB +
    * changelog, then (1) the as-of read at batchId=0 must be EXACTLY
    * batch 0's distinct users — keys batch 1 added must NOT leak
    * backward in time — and (2) the change feed from batch 1 must be
    * exactly the keys batch 1 NEWLY added. Both grade against the batch
    * prefix oracle in one tagged frame. */
  def stateTimeTravelDedup(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark, Changelog) {
      perfScope(spark, Some(8)) {
        val t = new Topic("graft_t41_")
        val ckpt = t.path("ckpt")
        // user-keyed two-file stage (the parity shape, but split on
        // user identity so batch 1 introduces new state keys)
        val Seq(known, fresh) = userSplitStage(spark, dir)
        // two EXPLICIT drains pin the batch boundary: batch 0 is the
        // known users alone, batch 1 the fresh ones — the time axis the
        // as-of read and the change feed are graded against
        drain(t.group(known), t.group(fresh))(toMemory(
          t.read(spark, paced = true).dropDuplicates("user_id")
            .select("user_id"),
          "graft_t41", "append", Some(ckpt)))
        val asOf0 = spark.read.format("statestore")
          .option("path", ckpt)
          .option("batchId", 0).load()
          .select(col("key.user_id").as("user_id"),
            lit("asof_batch0").as("src"))
        val feed1 = spark.read.format("statestore")
          .option("path", ckpt)
          .option("readChangeFeed", "true")
          .option("changeStartBatchId", 1).load()
          .filter(col("change_type") === "update")
          .select(col("key.user_id").as("user_id"),
            lit("feed_batch1").as("src"))
        asOf0.unionByName(feed1).orderBy("src", "user_id")
      }
    }

  /** S9: exactly-once FILE SINK — the durability seat t1 proves for
    * STATE, proven for OUTPUT: the parquet sink's `_spark_metadata`
    * transaction log makes the output directory exactly-once across
    * restarts. Phase 1 streams the even half of the events into an
    * append-mode parquet sink and STOPS; phase 2 stages the odd half and
    * restarts from the same checkpoint. The batch read of the sink dir
    * consults the sink log (ignoring any files an interrupted batch
    * might have orphaned), so the fold over the sink can only match the
    * source oracle if every event landed exactly once — loss would
    * undercount, reprocessing would overcount. Sums are integer cents
    * (fold-order-free). */
  def fileSinkExactlyOnce(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    val t = new Topic("graft_s9_")
    val out = t.path("out")
    val Seq(even, odd) = parityStage(spark, dir)
    def start() =
      t.read(spark, paced = true)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", t.path("ckpt"))
        .outputMode("append")
        .start()
    drain(t.group(even))(start())
    drain(t.group(odd))(start())
    spark.read.parquet(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(round(col("value") * 100).cast("long")).as("cents"))
      .orderBy("event_type")
  }

  /** S5c: exactly-once JDBC delivery under REPLAY — the streaming form of
    * the reference's insert-results-into-Postgres loop
    * (`/root/reference/main.py:122-132`), which appends and therefore
    * double-counts when its at-least-once consumer re-delivers
    * (`voting.py:120-126` commits AFTER producing). Here the stream keeps
    * the cumulative per-user total in UPDATE-mode state (exact integer
    * cents) and each micro-batch upserts its updated keys through
    * [[graft.sources.JdbcIO.upsertCents]] — update-else-insert per key,
    * so re-applying a batch rewrites the same keys to the same cumulative
    * values and the table CONVERGES instead of accumulating. The
    * at-least-once failure is INJECTED, not hypothetical: every epoch is
    * applied twice. The final table must equal the batch per-user totals
    * over the full source — which is exactly what the oracle recomputes.
    *
    * Scale shape: update mode ships only keys that changed in the epoch,
    * state is one long per user, and connections scale with the (sized)
    * state partitions — each key touched by exactly one writer. */
  def jdbcUpsertReplay(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    val url = graft.sources.JdbcIO.freshUrl()
    graft.sources.JdbcIO.createCentsTable(url, "user_cents")
    drain()(eventStream(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .agg(sum("cents").as("total_cents"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        graft.sources.JdbcIO.upsertCents(b, url, "user_cents")
        // injected at-least-once redelivery: apply the SAME epoch again —
        // an idempotent sink converges, an append sink double-counts
        graft.sources.JdbcIO.upsertCents(b, url, "user_cents")
        b.unpersist(); ()
      }
      .start())
    graft.sources.JdbcIO.readTable(spark, url, "user_cents")
      .select(col("user_id").cast("long").as("user_id"),
              col("total_cents").cast("long").as("total_cents"))
      .orderBy("user_id")
  }

  /** S5d: the DELTA-sink sibling of [[jdbcUpsertReplay]] — no streaming
    * state at all: each micro-batch folds ITS OWN rows to per-user cent
    * increments and the DATABASE accumulates, guarded by the
    * (batch, partition) transaction log
    * ([[graft.sources.JdbcIO.applyDeltasExactlyOnce]]). Every epoch is
    * delivered TWICE; the log makes the second delivery a committed
    * no-op, so the final table equals the batch per-user totals — which
    * is exactly what the oracle recomputes. Contrast s5c: there the
    * STATE holds totals and the sink is value-idempotent; here the sink
    * is incremental and the GUARD carries exactly-once. */
  def jdbcTxnLogReplay(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    val url = graft.sources.JdbcIO.freshUrl()
    graft.sources.JdbcIO.createDeltaTables(url, "user_cents_d", "epoch_log")
    drain()(eventStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val deltas = batch
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .groupBy("user_id").agg(sum("cents").as("delta_cents"))
          .persist()
        graft.sources.JdbcIO.applyDeltasExactlyOnce(
          deltas, url, "user_cents_d", "epoch_log", id)
        // injected at-least-once redelivery of the SAME epoch: the claim
        // row makes it a no-op — an unguarded delta sink double-counts
        graft.sources.JdbcIO.applyDeltasExactlyOnce(
          deltas, url, "user_cents_d", "epoch_log", id)
        deltas.unpersist(); ()
      }
      .start())
    graft.sources.JdbcIO.readTable(spark, url, "user_cents_d")
      .select(col("user_id").cast("long").as("user_id"),
              col("total_cents").cast("long").as("total_cents"))
      .orderBy("user_id")
  }

  /** MemoryStream harness for the fine-grained specs (exact micro-batch
    * boundaries, late-data injection): drive `pipeline` over `data`
    * replayed in `nBatches` micro-batches and return the final result
    * table. Queries use [[streamTable]]; this stays driver-fed by
    * design, for tests only. */
  def runStream(spark: SparkSession, data: Seq[Ev], nBatches: Int,
                outputMode: String)
               (pipeline: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Ev]
    val table = freshName("graft_stream")
    val q = pipeline(ms.toDF())
      .writeStream.format("memory").queryName(table)
      .outputMode(outputMode)
      .start()
    try {
      // T6 pacing: one micro-batch per chunk, driven to completion each time
      val batchSize = math.max(1, (data.size + nBatches - 1) / nBatches)
      data.grouped(batchSize).foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(table)
  }

  /** T3: unwindowed cumulative aggregation — the faithful "évolution des
    * candidats au fur et à mesure des votes" semantics (`.../txt:37`).
    * Complete mode: the final table equals the batch groupBy, which is the
    * prefix-consistency guarantee the oracle checks. */
  def cumulativeTally(spark: SparkSession, dir: String): DataFrame =
    tally(spark, dir, 8)

  /** The t3 tally at `width` state partitions: t3 grades it at 8, the
    * t21 leaderboard ranks the same tally's snapshot at 4. */
  private def tally(spark: SparkSession, dir: String, width: Int): DataFrame =
    streamTable(spark, eventStream(spark, dir), "complete", Some(width)) { df =>
      df.groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
             count(lit(1)).as("n_events"))
    }

  /** T21: the LIVE LEADERBOARD — the reference's dashboard semantic
    * (rank candidates as votes stream in, `Note...txt:36-37`) in its
    * production decomposition: the STREAM maintains only the per-key
    * tally state (complete mode, O(keys)); rank, vote share, and the
    * gap-to-leader are computed over the emitted SNAPSHOT, which is
    * |keys|-sized — the dashboard refresh recomputes them per poll in
    * milliseconds. Ranking inside the stream would force a global sort
    * per micro-batch over state Spark cannot incrementalize (window
    * functions are unsupported on streaming aggregates for exactly this
    * reason); tally-in-stream + rank-on-snapshot is the shape that
    * scales. Share is integer basis points (votes·10⁴ div total) so the
    * cross-engine compare is exact. */
  def streamingLeaderboard(spark: SparkSession, dir: String): DataFrame = {
    val snap = tally(spark, dir, 4)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n_events"), col("event_type"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    snap
      .withColumn("rnk", row_number().over(w))
      .withColumn("_total", sum("n_events").over(wAll))
      .withColumn("share_bp", expr("(n_events * 10000) div _total"))
      .withColumn("behind_leader",
        max(col("n_events")).over(wAll) - col("n_events"))
      .select(col("rnk"), col("event_type"), col("n_events"),
        col("share_bp"), col("behind_leader"))
      .orderBy("rnk")
  }

  /** T23: streaming DRIFT MONITOR — the PSI audit (`dq_drift_psi`) run
    * continuously against a pinned baseline. The baseline snapshot's
    * per-category counts are one tiny batch aggregate; the LIVE side
    * maintains only per-category counts in complete mode (O(categories)
    * state, the same bound as t3); the PSI terms are recomputed over the
    * emitted snapshot at each refresh — the tally-in-stream /
    * score-on-snapshot decomposition t21 uses, because the ln/ratio
    * arithmetic over a |categories|-row snapshot costs microseconds while
    * keeping the streaming state mergeable counters. Scoring shares
    * [[graft.ops.Quality.driftPsiFromCounts]], so the monitor is
    * bit-identical to the batch audit the oracle replays. The injected
    * shift mirrors `dq_drift_psi`: current = odd event ids with 60% of
    * clicks dropped, so the click PSI term is large at every SF. */
  def streamingDriftPsi(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.events(spark, dir)
      .filter(pmod(col("event_id"), lit(2)) === 0)
      .groupBy("event_type").agg(count(lit(1)).as("n_base"))
    val curSnap = streamTable(spark, eventStream(spark, dir), "complete",
        Some(4)) { df =>
      df.filter(pmod(col("event_id"), lit(2)) === 1 &&
          !(col("event_type") === "click" &&
            pmod(col("event_id"), lit(5)) < 3))
        .groupBy("event_type").agg(count(lit(1)).as("n_cur"))
    }
    val counts = base.join(curSnap, Seq("event_type"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
    graft.ops.Quality.driftPsiFromCounts(counts, "event_type")
      .orderBy("event_type")
  }

  /** T22: STREAMING CDC apply — the tombstone MERGE
    * ([[graft.ops.Cdc.mergeApplyTombstones]]) fed by a live change
    * stream. The stream maintains ONLY the latest-wins compaction:
    * per-key `max(struct(ts, event_id, value, op))` in complete mode —
    * struct ordering is lexicographic on (ts, event_id), exactly the
    * batch `ORDER BY ts DESC, event_id DESC` latest-wins rule, and the
    * aggregate is mergeable, so state is O(keys) and each micro-batch
    * folds map-side. The tombstone apply itself runs on the emitted
    * |keys|-row snapshot against the static base dim — the same one
    * full-outer join as the batch form, so the batch oracle grades the
    * whole chain bit-for-bit (stream/batch parity IS the graded
    * property, the t13/t19 pattern). */
  /** The streaming half of [[streamingMergeDelete]]: per-key latest-wins
    * compaction as a mergeable complete-mode aggregate. Shared with the
    * cross-batch spec, which drives it through MemoryStream batches. */
  private[graft] def mergeDeleteCompaction(df: DataFrame): DataFrame =
    df.withColumn("ckey", col("user_id") * 11)
      .withColumn("op",
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")))
      .groupBy("ckey")
      .agg(max(struct(col("ts"), col("event_id"), col("value"), col("op")))
        .as("m"))

  /** Apply the compaction snapshot onto the base dim (batch-side). */
  private[graft] def mergeDeleteApply(latest: DataFrame,
                                      base: DataFrame): DataFrame = {
    val changes = latest.select(col("ckey"), col("m.value").as("cval"),
      col("m.op").as("op"))
    graft.ops.Cdc.mergeApplyTombstones(
      base, changes, "c_custkey", "ckey", "c_acctbal", "cval", "op")
  }

  def streamingMergeDelete(spark: SparkSession, dir: String,
                           base: DataFrame): DataFrame =
    mergeDeleteApply(
      streamTable(spark, eventStream(spark, dir), "complete", Some(8))(
        mergeDeleteCompaction),
      base)

  /** T2+T3 windowed variant: event-time tumbling window with watermark —
    * the exact step the reference truncated at ("convertir l'horodatage",
    * `/root/reference/spark-streaming.py:77`). */
  def hourlyWindowCounts(spark: SparkSession, dir: String): DataFrame =
    streamTable(spark, eventStream(spark, dir), "complete", Some(8)) { df =>
      df.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
    }.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
             col("n_events"))

  /** T16: SLIDING event-time windows — every event lands in the two
    * overlapping 2-hour windows that slide by 1 hour (Spark expands the
    * row into window-duration/slide copies before the windowed agg; state
    * is one row per window ever opened — COMPLETE output mode re-emits
    * the full result each batch and the watermark does NOT evict window
    * state, so state grows with the window count; the bounded-state,
    * watermark-finalized form of the same machinery is [[lateDropHourly]]
    * in append mode). The tumbling form is [[hourlyWindowCounts]];
    * sliding is the shape dashboards use for trailing-2h activity
    * refreshed hourly
    * (`/root/reference/Note_Projet1_RealTimeVotingDataEngineer.txt:36-37`). */
  def slidingWindowCounts(spark: SparkSession, dir: String): DataFrame =
    streamTable(spark, eventStream(spark, dir), "complete", Some(8)) { df =>
      df.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n_events"))
    }.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
             col("n_events"))

  /** T42: MULTIPLE STATEFUL OPERATORS in one streaming query — the
    * chained time-window rollup Spark supports natively since 3.4:
    * hourly windowed counts (stateful agg #1) re-windowed into
    * epoch-aligned 4-hour buckets (stateful agg #2, grouping on the
    * upstream `window` struct itself) in ONE query, append mode. This
    * is the materialized-rollup topology a 100 TB deployment runs as a
    * single job instead of a two-hop pipeline with an intermediate
    * topic: state is O(open hourly windows) + O(open 4 h buckets), the
    * watermark finalizes both levels, and a bucket emits exactly once.
    * `n_hours` counts the POPULATED hourly windows inside each bucket —
    * a value only the two-level chain produces (a flat 4 h window count
    * could fake `n_events` but not `n_hours`), so the oracle grades the
    * chain itself. Emission rule replayed by the oracle: after the
    * sentinel finalization batch (the [[lateDropHourly]] mechanism — a
    * sentinel row at max(ts) advances nothing but gives the batch-0
    * watermark a batch to take effect; its own top-boundary windows
    * stay open forever, so it can never surface), a 4 h bucket emits
    * iff bucket_end ≤ max(ts) − 1 h, and every hourly window it
    * contains is then ≤ that watermark too — one clean cut, no partial
    * buckets. The reference never reaches even one aggregate
    * (`/root/reference/spark-streaming.py:77-81`); this grades two,
    * composed. */
  def chainedWindowRollup(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    val t = new Topic("graft_t42_")
    // one bounded scalar to the driver: the sentinel/finalization anchor
    // (reads only the pruned ts column)
    // empty-fixture fallback: epoch-0 anchor — the parity halves stage
    // zero-row arrivals and the sentinel's own window can never emit,
    // so the result is the correct empty frame, not an NPE
    val maxTs = maxEventTs(spark, dir).getOrElse(new Timestamp(0L))
    // memoized session staging: both parity halves land in batch 0;
    // batch 1 is the sentinel finalization batch: the watermark from
    // batch 0 takes effect, level 1 emits its finalized hours into level
    // 2, level 2 emits the finalized buckets (see scaladoc for why the
    // sentinel itself can never surface); the staged 1-row file is
    // shared with t4 via [[sentinelFile]] (same max(ts) instant)
    val Seq(even, odd) = parityStage(spark, dir)
    drainToTable(t.group(even, odd),
        t.group(sentinelFile(spark, maxTs.getTime)))(
      t.read(spark)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_hourly"))
        // stateful op #2: group on the upstream window struct — Spark
        // derives the 4 h bucket each finalized hourly window belongs to
        .groupBy(window(col("window"), "4 hours"))
        .agg(sum("n_hourly").as("n_events"), count(lit(1)).as("n_hours"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("bucket_start"),
          col("n_events"), col("n_hours")),
      "graft_t42", "append")
      }

  /** T43: STREAMING OBSERVABILITY — `Dataset.observe` metrics on a live
    * stream, read back per micro-batch from the query's progress log.
    * The production shape: a data-quality gate publishes per-batch
    * counters (rows seen, rows passing) WITHOUT a second aggregation
    * pass — observe's accumulators ride the existing scan, cost zero
    * extra jobs, and surface in `StreamingQueryProgress.observedMetrics`
    * for alerting. The harness stages the two parity arrivals as two
    * metered batches and emits one row per batch from `recentProgress`
    * (the synchronous read — listener delivery is async and racy by
    * contract, so the progress log is what an operator audits). The
    * oracle replays each batch's counters from the parity split. */
  def streamingObservedGate(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(4)) {
    val t = new Topic("graft_t43_")
    val Seq(even, odd) = parityStage(spark, dir)
    val q = drain(t.group(even), t.group(odd))(toMemory(
      t.read(spark)
        .observe("gate",
          count(lit(1)).as("n_rows"),
          sum(when(col("value") > 50, 1L).otherwise(0L)).as("n_heavy"))
        .filter(col("value") > 50)
        .select("event_id", "event_type", "value"),
      "graft_t43", "append"))
    val rows = q.recentProgress.toSeq
      .flatMap { p =>
        Option(p.observedMetrics.get("gate")).map { m =>
          (p.batchId, m.getAs[Long]("n_rows"), m.getAs[Long]("n_heavy")) }
      }
      .filter(_._2 > 0L) // only the data batches (no-data rounds carry 0)
      .sortBy(_._1)
    spark.createDataFrame(rows).toDF("batch_id", "n_rows", "n_heavy")
      }

  /** T44: DYNAMIC-GAP session windows on a STREAM — `session_window`
    * with a per-event gap expression (purchases hold a session open
    * 60 min, clicks 30) as a stateful streaming aggregate, APPEND mode:
    * each merged session emits exactly once when the watermark passes
    * its close (the [[sessionFlushAppend]] discipline — the result here
    * is data-sized, so the rejected alternative, complete mode re-emitting
    * the full session set every batch into a driver-collected memory
    * sink, pays Σ_b |state(b)| in driver collects; append pays each
    * session once, which IS the graded output). State is O(open
    * sessions); the engine merges the per-event [ts, ts+gap) intervals
    * across micro-batches exactly as the batch form does, so the BATCH
    * seat's oracle grades stream/batch parity (the t13/t19/t22
    * discipline). The sentinel's gap resolves through the same per-event
    * expression (wm_sentinel → 30 min), bounded by maxGap = 60 min. */
  def streamingDynamicGapSessions(spark: SparkSession, dir: String)
      : DataFrame = {
    val gap = when(col("event_type") === "purchase", lit("60 minutes"))
      .otherwise(lit("30 minutes"))
    sessionFlushAppend(spark, dir, "t44", gap, 3600L * 1000)
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))
  }

  /** T45: the corpus-preparation FRONT END as a stream — the topology
    * a 100 TB ingest actually runs (t12 gates a document stream and t24
    * dedups planted variants; this seat composes gate → CANONICAL dedup
    * into the corpus-front-end OUTPUT): documents arrive continuously,
    * the language and quality gates run as scan-side predicates INSIDE
    * the streaming query (the [[graft.ext.TextOps]] expressions),
    * and exact dedup is a content-digest-keyed stateful aggregation
    * (min doc_id = the canonical copy, count = duplicate multiplicity,
    * token count rides along — identical for identical text, so the
    * fold is order-insensitive). UPDATE mode emits each digest's
    * running canon per micro-batch; each batch's emissions stay
    * DISTRIBUTED — a foreachBatch sink appends them to a parquet
    * snapshot (the [[sessionFlushAppend]] fold discipline — a memory
    * sink would collect every per-batch re-emission to the driver, the
    * exact Σ|updates| shape the session seats engineered out) — and the
    * graded frame re-aggregates the partials, keeping the final
    * emission per digest (min doc_id is monotone decreasing and
    * n_copies monotone increasing, so min/max select it
    * deterministically). That must equal the batch gates + GROUP BY
    * md5(text) the oracle replays. State is O(distinct contents), the
    * exact shape [[graft.ops.Dedup.exactByContent]] carries in batch;
    * duplicates deliberately SPAN the two staged arrivals (doc_id
    * parity), so a hash match proves the dedup state carried across
    * micro-batches. */
  def streamingCanonicalDedup(spark: SparkSession, dir: String): DataFrame =
    gatedDigestFold(spark, corpusFrontEndRun(spark, dir).out)

  /** The corpus front end's gated digest aggregation, shared by the t45
    * emission seat and the t47 recovery seat: language + quality gates as
    * scan-side predicates, then the content-digest canonical fold. */
  private def gatedDigestUpdates(spark: SparkSession, topic: Topic): DataFrame =
    topic.read(spark, "doc_id BIGINT, text STRING", paced = true)
      .filter(graft.ext.TextOps.isEnglishPredicate &&
        graft.ext.TextOps.qualityOkPredicate)
      .select(col("doc_id"), md5(col("text")).as("digest"),
        size(split(col("text"), " ")).as("n_tokens"))
      .groupBy("digest")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"),
        min("n_tokens").as("n_tokens"))

  /** The schema-anchored append fold of t9, t45, t47 and t53: start
    * `updates` in `mode`, each micro-batch appending `f(batch)` to the
    * parquet directory `out`, so the fold stays DISTRIBUTED (a memory sink
    * would collect every per-batch emission to the driver). A new `out`
    * first gets an empty anchor of `f`'s schema, written BEFORE start —
    * after start it would race batch 0's append into the same directory —
    * so a run that appends nothing still reads back as an empty frame. A
    * resumed fold (t47's copied snapshot) keeps the anchor it has. */
  private def appendFold(updates: DataFrame, mode: String, ckpt: String,
                         out: String)
                        (f: DataFrame => DataFrame): StreamingQuery = {
    val spark = updates.sparkSession
    if (!Files.exists(java.nio.file.Paths.get(out))) {
      def empty(schema: org.apache.spark.sql.types.StructType) =
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      empty(f(empty(updates.schema)).schema).write.mode("append").parquet(out)
    }
    updates.writeStream
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        f(batch).write.mode("append").parquet(out); ()
      }
      .start()
  }

  /** Re-aggregate the fold's partials, keeping the final emission per
    * digest (min doc_id is monotone decreasing and n_copies monotone
    * increasing across update-mode re-emissions, so min/max select it
    * deterministically — and make the fold replay-idempotent under an
    * unclean stop). */
  private def gatedDigestFold(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out)
      .groupBy("digest")
      .agg(min("doc_id").as("doc_id"), max("n_copies").as("n_copies"),
        min("n_tokens").as("n_tokens"))
      .select(col("doc_id"), col("n_copies"),
        col("n_tokens").cast("long").as("n_tokens"))
      .orderBy("doc_id")

  /** One shared corpus-front-end pipeline run per (session, fixture),
    * at width 4 — the t5/t27 shared-run discipline applied to the
    * t45/t47 pair: t45 grades the full two-arrival fold; t47 grades a
    * COLD START from this run's checkpoint as it stood after arrival 0,
    * so the even half streams once per board instead of twice. Between
    * the two drains the query is idle (processAllAvailable returned,
    * no-data batches disabled by the caller's scope), so the checkpoint
    * and fold snapshot are stat-stable and the copy is consistent. */
  private final case class CorpusRun(out: String, topic: Topic,
                                     recoverCkpt: String, recoverOut: String)
  private val corpusRunMemo =
    SessionMemo[String, CorpusRun]("stream_corpus_run")

  /** `tolerateVanishing` is for CHECKPOINT trees only: the HDFS state
    * store's MAINTENANCE thread may rename a .snapshot temp file
    * between our list and copy even while the query is idle, and a
    * vanished maintenance file is never restore-critical (deltas are
    * written synchronously at commit and retained far beyond this
    * run's two batches). The fold-output parquet copy stays STRICT — a
    * vanished part file there would silently corrupt the recovery
    * baseline, which must fail loudly at the copy, not at grade time. */
  private def copyTree(src: Path, dst: Path,
                       tolerateVanishing: Boolean = false): Unit = {
    Files.createDirectories(dst)
    Option(src.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val d = dst.resolve(f.getName)
      if (f.isDirectory) copyTree(f.toPath, d, tolerateVanishing)
      else try Files.copy(f.toPath, d)
      catch {
        case e: java.nio.file.NoSuchFileException if tolerateVanishing =>
          System.err.println(s"[copyTree] skipped vanished ${e.getFile}")
      }
    }
  }

  private def corpusFrontEndRun(spark: SparkSession, dir: String): CorpusRun =
    corpusRunMemo(spark, dir) {
      perfScope(spark, Some(4)) {
        val t = new Topic("graft_t45_")
        val Seq(even, odd) = docParityStage(spark, dir)
        val out = t.path("snap")
        val recoverCkpt = t.root.resolve("ckpt_recover")
        val recoverOut = t.root.resolve("snap_recover")
        drain(t.group(even), () => {
          // snapshot the post-arrival-0 checkpoint + fold for the t47
          // cold start: new checkpoint writes land as NEW files (offset/
          // commit logs and state versions are append-by-filename), so
          // the copied tree is a faithful frozen restart point
          copyTree(t.root.resolve("ckpt"), recoverCkpt, tolerateVanishing = true)
          copyTree(java.nio.file.Paths.get(out), recoverOut)
          t.land(odd)
        })(appendFold(gatedDigestUpdates(spark, t), "update", t.path("ckpt"),
          out)(identity))
        CorpusRun(out, t, recoverCkpt.toString, recoverOut.toString)
      }
    }

  /** T46: MULTI-QUERY CONCURRENCY — two independent stateful streaming
    * queries over the SAME topic, running CONCURRENTLY in one
    * SparkSession: one shared scheduler, one state-store provider pool,
    * one scratch filesystem — the deployment property a 100 TB cluster
    * actually has (a real job server never runs one query at a time),
    * and the one topology nothing else on the board exercised. Query A
    * maintains the per-type tally, query B the per-user-bucket tally;
    * both are started BEFORE their processAllAvailable drains, so their
    * micro-batches interleave on the shared scheduler and their state
    * stores coexist in the provider pool (each query checkpoints
    * privately — per-query offset logs over one shared immutable topic,
    * the Kafka consumer-group shape). The graded frame unions both
    * results; the oracle replays each side as a batch aggregate, so any
    * cross-query interference — a state store handed to the wrong
    * query, a shared-conf race, scheduler starvation dropping a batch —
    * breaks the hash. Outputs are key-bounded (3 types + 8 buckets),
    * so the complete-mode memory sinks collect O(keys), never O(rows). */
  def concurrentSharedSession(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(4)) {
    val t = new Topic("graft_t46_")
    t.land(parityStage(spark, dir): _*)
    def source() = t.read(spark, paced = true)
    val tableA = freshName("graft_t46a")
    val tableB = freshName("graft_t46b")
    val qA = source()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .writeStream.format("memory").queryName(tableA)
      .option("checkpointLocation", t.path("ckptA"))
      .outputMode("complete").start()
    val qB =
      try source()
        .groupBy(pmod(col("user_id"), lit(8)).cast("string").as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .writeStream.format("memory").queryName(tableB)
        .option("checkpointLocation", t.path("ckptB"))
        .outputMode("complete").start()
      catch { case e: Throwable => qA.stop(); throw e }
    try {
      // both queries are live HERE — the drains below wait on each
      // query's own progress while the other keeps running its batches
      // on the shared scheduler
      qA.processAllAvailable()
      qB.processAllAvailable()
    } finally { qA.stop(); qB.stop() }
    spark.table(tableA)
      .select(lit("by_type").as("metric"), col("event_type").as("k"),
        col("n"), col("total"))
      .unionAll(spark.table(tableB)
        .select(lit("by_bucket").as("metric"), col("bucket").as("k"),
          col("n"), col("total")))
      .orderBy("metric", "k")
  }

  /** T47: COLD-START RECOVERY of the streamed corpus front end — the
    * t1/t35 kill-and-restart discipline applied to the round-15 t45
    * topology (gates + content-digest canonical dedup): phase 1 streams
    * the even doc-parity half through the gated digest aggregation into
    * a checkpointed foreachBatch parquet fold, then the query is
    * STOPPED; phase 2 drops the odd half and starts a NEW query from
    * the same checkpoint. The offset log prevents a rescan of arrival
    * 0, so phase 2's update emissions carry cross-arrival duplicate
    * counts ONLY if the digest state was recovered from the checkpoint
    * — a lost store would restart every spanning digest's n_copies at
    * its odd-half count and the max() selection below would undercount,
    * breaking the hash (duplicates deliberately span the parity split,
    * exactly as in [[streamingCanonicalDedup]]). The final min/max
    * re-aggregation is replay-idempotent, so a re-run last batch after
    * an unclean stop changes nothing — the exactly-once story a 100 TB
    * ingest needs from its sink side. Same oracle as t45: recovery must
    * be semantics-free. */
  def corpusFrontEndRecover(spark: SparkSession, dir: String): DataFrame =
    gatedDigestFold(spark, corpusRecoverRun(spark, dir))

  /** The t47 recovery phase, memoized alongside [[corpusFrontEndRun]]:
    * a brand-new query starts from the shared run's post-arrival-0
    * checkpoint snapshot — by then the odd half is already in the topic
    * (the shared run's q1 consumed it), but THIS query's offset log has
    * never seen those files, so they are its fresh arrivals and the
    * recovered digest state is what carries the cross-arrival counts.
    * Memoized so a post-board resample doesn't re-drive the stream
    * against an already-consumed checkpoint (the seat is flagged
    * `resampled_memoized` in the bench artifact). */
  private val corpusRecoverMemo =
    SessionMemo[String, String]("stream_corpus_recover")
  private def corpusRecoverRun(spark: SparkSession, dir: String): String =
    corpusRecoverMemo(spark, dir) {
      val run = corpusFrontEndRun(spark, dir)
      perfScope(spark, Some(4)) {
        drain()(appendFold(gatedDigestUpdates(spark, run.topic), "update",
          run.recoverCkpt, run.recoverOut)(identity))
      }
      run.recoverOut
    }

  /** T49: BOUNDED-STATE corpus front end — the watermark/TTL-evicted
    * sibling of [[streamingCanonicalDedup]], closing the one remaining
    * scale-killer on the board (SURVEY §7.4): t45/t47 keep one state
    * row per distinct content digest FOREVER, which at 100 TB of docs
    * is corpus-sized state; here the digest key rides an ingest-time
    * watermark and `dropDuplicatesWithinWatermark` EVICTS it once the
    * watermark passes its event time + delay, so state is O(digests
    * within the horizon). The graded fixture plants duplicates on BOTH
    * sides of the horizon: every gated document arrives once in batch
    * 0 — even-length texts at T0, odd-length at T0+10d — and the whole
    * corpus is re-delivered at T0+10d (twice, as two paced batches —
    * see the in-body comment on cleanup discipline). After batch 0 the
    * watermark stands at T0+8d (max event time − 2d delay), which is
    * PAST the even-length digests' expiry (T0+2d) and SHORT of the
    * odd-length ones' (T0+12d) — so the re-delivery re-emits exactly
    * the evicted half and is suppressed on the retained half. The
    * oracle recomputes both outcomes from the text alone (n_emits = 2
    * iff length(text) is even), so under-eviction (state never freed —
    * everything 1), over-eviction (odd half re-emitted too), and
    * late-row leakage all break the hash. The unbounded t45 stays as
    * the exact-semantics contrast (the A3 "Postgres remembers forever"
    * discipline). Emissions are one row per (digest, emission) — the
    * graded output itself — so the memory sink collects exactly the
    * result, never a larger stream (the t44 justification). */
  def streamingDedupEvicted(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(4)) {
    val t = new Topic("graft_t49_")
    val Seq(f0, f1) = t49Stage(spark, dir)
    // the re-delivery arrives TWICE (one file per micro-batch): state
    // removal for expired keys runs in the operator's end-of-batch
    // cleanup, so the FIRST re-delivery batch may still see the expired
    // entry (suppressed; cleanup then drops it) and the second one
    // re-emits — while an implementation that compares expiry at check
    // time re-emits on the first and suppresses the second. Either way
    // each evicted digest re-emits EXACTLY once and each retained digest
    // never does, so the graded counts are invariant to which cleanup
    // discipline the operator uses.
    drainToTable(t.group(f0), t.group(f1), t.group(f1))(
      t.read(spark, "doc_id BIGINT, text STRING, ts TIMESTAMP")
        .filter(graft.ext.TextOps.isEnglishPredicate &&
          graft.ext.TextOps.qualityOkPredicate)
        .select(col("ts"), md5(col("text")).as("digest"),
          size(split(col("text"), " ")).as("n_tokens"))
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark("digest")
        .select("digest", "n_tokens"),
      "graft_t49", "append", Some(t.path("ckpt")))
      .groupBy("digest")
      .agg(count(lit(1)).as("n_emits"),
        min("n_tokens").cast("long").as("n_tokens"))
      .orderBy("digest")
      }

  /** T50: STREAMING MULTIMODAL INGEST GATE — the mm tier's batch
    * kernels applied on the continuous path a 100 TB multimodal
    * pipeline actually runs (the r16 verdict's directive #4): real
    * encoded PNG payloads arrive as a binary-column file stream (the
    * t45 staging discipline), each micro-batch decodes the actual
    * bytes partition-parallel ([[graft.ext.ImageCodec.decodeGate]] —
    * the per-partition ImageIO loop a JNI codec would occupy),
    * malformed payloads are QUARANTINED instead of killing the query
    * (the t17 dead-letter shape, here from a decoder failure rather
    * than a parse failure), and a stateful aggregate maintains per-
    * geometry admission counters. The staged fixture corrupts every
    * doc_id % 7 == 0 payload (truncated after the 8-byte signature), so
    * the quarantine path is genuinely exercised; decode results follow
    * the fixture's closed-form pixel pattern, so the oracle recomputes
    * every kept group's exact pixel sum — a silently dropped payload, a
    * mis-decoded byte, or a crash-not-quarantine all break the hash.
    * Output is key-bounded (13 widths + the quarantine row), so the
    * complete-mode memory sink collects O(groups), never O(docs). */
  def streamingMediaGate(spark: SparkSession, dir: String): DataFrame =
    codecGate(spark, dir, "t50", t50Stage, graft.ext.ImageCodec.decodeGate,
        concat(lit("w"), col("width").cast("string")))(
      sum(when(col("ok"), col("width") * col("height")).otherwise(0L))
        .as("total_px"),
      sum("pix_sum").as("pix_sum"))

  /** The codec-gate body of t50, t54 and t55: the two staged payload
    * arrivals drain through `gate` (decode partition-parallel, flag
    * undecodable payloads `ok = false`) into a complete-mode count per
    * admitted `key`, every quarantined payload counted under
    * "quarantined", plus the seat's `aggs`. */
  private def codecGate(spark: SparkSession, dir: String, tag: String,
                        stage: Layout,
                        gate: (SparkSession, DataFrame) => DataFrame,
                        key: org.apache.spark.sql.Column)
                       (aggs: org.apache.spark.sql.Column*): DataFrame =
      perfScope(spark, Some(4)) {
    val t = new Topic(s"graft_${tag}_")
    val Seq(f0, f1) = stage(spark, dir)
    drainToTable(t.group(f0), t.group(f1))(
      gate(spark, t.read(spark, "doc_id BIGINT, media_bytes BINARY"))
        .groupBy(when(col("ok"), key).otherwise(lit("quarantined")).as("k"))
        .agg(count(lit(1)).as("n_docs"), aggs: _*),
      s"graft_$tag", "complete", Some(t.path("ckpt"))).orderBy("k")
      }

  /** T54: STREAMING AUDIO INGEST GATE — the t50 discipline applied to
    * the audio modality, so the mm tier's continuous path covers more
    * than one codec family: real RIFF/WAVE payloads arrive as a
    * binary-column file stream, each micro-batch decodes the actual
    * bytes partition-parallel through the JDK WAV reader
    * ([[graft.ext.AudioCodec.decodeGate]]), payloads the reader
    * rejects are QUARANTINED instead of killing the query (the staged
    * fixture truncates every doc_id % 7 == 0 payload to its 8-byte
    * RIFF prefix — valid magic, no WAVE tag), and a stateful aggregate
    * maintains per-sample-rate admission counters. Samples follow the
    * fixture's closed-form PCM pattern, so the oracle recomputes every
    * kept group's exact signed-16-bit sample sum — a dropped payload,
    * a byte-order slip, or a crash-not-quarantine all break the hash.
    * Output is key-bounded (5 rates + the quarantine row), so the
    * complete-mode memory sink collects O(groups), never O(docs). */
  def streamingAudioGate(spark: SparkSession, dir: String): DataFrame =
    codecGate(spark, dir, "t54", t54Stage, graft.ext.AudioCodec.decodeGate,
        concat(lit("r"), col("sample_rate").cast("string")))(
      sum(when(col("ok"), col("n_samples")).otherwise(0L))
        .as("total_samples"),
      sum("sample_sum").as("sample_sum"))

  /** T55: STREAMING VIDEO INGEST GATE — the third codec family on the
    * continuous path, completing the t50 (image) / t54 (audio)
    * modality sweep: real MJPEG-in-AVI containers arrive as a
    * binary-column file stream, each micro-batch demuxes the RIFF
    * chunk walk AND decodes every JPEG frame partition-parallel
    * ([[graft.ext.VideoCodec.demuxGate]]), payloads the walk or a
    * frame decode rejects are QUARANTINED (the staged fixture
    * truncates every doc_id % 7 == 0 clip to its 8-byte RIFF prefix),
    * and a stateful aggregate maintains per-frame-count admission
    * counters. Frame counts and geometry follow the fixture formulas
    * (n = doc_id%4+2 at the image-tier dims — 2 or 4 over the even-doc
    * clip population), so the oracle replays every admitted group
    * exactly — and the gate's header-consistency verdict (container
    * `avih` claims vs decoded truth) is summed, so a demuxer that
    * trusts the header without decoding breaks the hash. The clip
    * population is the EVEN doc_ids only (media is sparse in a real
    * corpus — the mm_avi_demux fixture contract). Output is
    * key-bounded (2 frame counts + the quarantine row). */
  def streamingVideoGate(spark: SparkSession, dir: String): DataFrame =
    codecGate(spark, dir, "t55", t55Stage, graft.ext.VideoCodec.demuxGate,
        concat(lit("f"), col("n_frames").cast("string")))(
      sum("n_frames").as("total_frames"),
      sum(when(col("ok"),
          col("n_frames") * col("frame_w") * col("frame_h"))
        .otherwise(0L)).as("total_px"),
      sum(when(col("hdr_ok"), 1L).otherwise(0L)).as("n_hdr_ok"))

  /** T51: STREAM-SIDE SCHEMA DRIFT on the corpus front end — a new
    * column starts arriving mid-topic (the r16 verdict's thin-surface
    * #7: the schema-evolution seats were batch-only): the query
    * declares the WIDE schema up front (the forward-compatible
    * deployment posture — additive drift needs no restart), arrival 0
    * is the PRE-drift narrow layout (doc_id, text — the same memoized
    * parity file t45 streams), arrival 1 carries the new `lang` column.
    * The parquet reader fills the missing column with NULL on the old
    * files — exactly the semantics a 100 TB topic migration needs —
    * and the stateful aggregate folds both generations: pre-drift rows
    * land in the 'pre_drift' bucket via coalesce, post-drift rows group
    * by their real lang. The oracle replays the generation split from
    * doc parity, so a dropped old-generation file, a misfilled default,
    * or a restart-requiring schema mismatch all break the hash. */
  def streamingSchemaDrift(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(4)) {
    val t = new Topic("graft_t51_")
    val evenNarrow = docParityStage(spark, dir)(0)
    val oddWide = t51Stage(spark, dir)(0)
    drainToTable(t.group(evenNarrow), t.group(oddWide))(
      t.read(spark, "doc_id BIGINT, text STRING, lang STRING")
        .groupBy(coalesce(col("lang"), lit("pre_drift")).as("lang_k"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("n_tokens")),
      "graft_t51", "complete", Some(t.path("ckpt"))).orderBy("lang_k")
      }

  /** T53: STREAMING INCREMENTAL DEDUP — the batch `dedup_incremental`
    * triage run the way a production crawler actually runs it: the new
    * crawl arrives CONTINUOUSLY and each micro-batch is triaged against
    * the sealed corpus (exact-digest gate + cross-set near-dup gate,
    * [[graft.ext.DedupOps.incrementalDedup]]) inside a foreachBatch
    * sink, with per-batch verdicts appended to a distributed parquet
    * fold. A document's status depends only on itself vs the CORPUS —
    * never on other increment docs — so the batch split is exact and
    * the streamed union equals the one-shot batch triage, which is
    * exactly what the shared oracle replays (same fixture injection:
    * doc_id % 5 == 0 plays the crawl, recrawls re-keyed at +10000). At
    * 100 TB the increment never fits one job; this is the topology
    * that replaces it — the corpus side stays a static build (its
    * digest set broadcasts as a Bloom sketch in the
    * `dedup_incremental_bloom` serving shape), and ingest cost is
    * per-arrival, not per-corpus. */
  def streamingIncrementalDedup(spark: SparkSession, dir: String): DataFrame =
      // no stateful operator here (foreachBatch triage), so no narrow
      // state width: the per-batch joins keep the session's parallelism
      // AND match the width the sealed index was partitioned at
      perfScope(spark, None) {
    val t = new Topic("graft_t53_")
    val Seq(f0, f1) = t53Stage(spark, dir)
    // the sealed-corpus index is a BUILD-TIME artifact (one session memo,
    // staged with the other layouts): the seat times the ingest triage,
    // not a per-batch re-derivation of the corpus side
    val idx = graft.ext.DedupOps.corpusIndex(t53Corpus(spark, dir), 3)
    val out = t.path("snap")
    // one manifest file per micro-batch: the verdict rows are
    // batch-bounded (KBs), and a 32-file append per batch was pure
    // commit overhead (guide §6 output sizing)
    drain(t.group(f0), t.group(f1))(appendFold(
        t.read(spark, "doc_id BIGINT, text STRING"), "append", t.path("ckpt"),
        out)(graft.ext.DedupOps.incrementalDedupIndexed(_, idx, 3, tau = 0.5)
          .coalesce(1)))
    spark.read.parquet(out).orderBy("doc_id")
      }

  /** The t53 sealed corpus — ONE construction shared by the seat and
    * the warm pass, so the [[graft.ext.DedupOps.corpusIndex]] memo
    * (keyed on the canonicalized plan) hits across both. */
  private def t53Corpus(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select("doc_id", "text")

  /** T48: TWO-HOP streaming pipeline chained through an exactly-once
    * FILE SINK — the multi-job topology a 100 TB platform actually
    * deploys (stage 1 lands cleaned events on storage; stage 2 — often
    * another team's job — streams the landed data onward), with the
    * handoff contract made graded: hop A projects the event stream to
    * integer cents and appends to a parquet sink whose
    * `_spark_metadata` transaction log is its exactly-once witness
    * (the s9 machinery); hop B FILE-STREAMS hop A's output directory —
    * the file source reads the sink's metadata log, so B sees exactly
    * the files A committed, never an orphan from an interrupted batch —
    * and maintains per-type totals. Both hops run CONCURRENTLY in one
    * session (the t46 property, here with a producer→consumer edge);
    * the arrivals are paced so B provably consumes across multiple of
    * A's commits. B's totals equal the batch aggregate ONLY if every
    * event flowed source→A→storage→B exactly once: loss undercounts,
    * replay overcounts, and integer cents make the fold order-free. */
  /** Last [[twoHopPipeline]] run's intermediate sink directory — test
    * hook so the spec can assert the handoff really went through the
    * `_spark_metadata` transactional log. */
  private[graft] var lastTwoHopMidDir: String = ""

  def twoHopPipeline(spark: SparkSession, dir: String): DataFrame =
    spark.table(twoHopRun(spark, dir).table).orderBy("event_type")

  /** T52: query-level LINEAGE AUDIT of the two-hop pipeline — the same
    * shared run as t48, with the handoff's conservation made a graded
    * ROW: both hops carry `observe()` counters (hop A counts the rows
    * it commits to the intermediate sink, hop B counts the rows it
    * reads back from it), summed across every micro-batch from the
    * queries' progress events — the per-batch audit stream a 100 TB
    * platform exports to its lineage service, at zero extra jobs
    * (observed metrics ride the existing batch plans). The `__lineage`
    * row (rows A wrote, rows B read) hashes against count(*) of the
    * batch table on BOTH positions: a row lost at the handoff, an
    * orphan file B picked up, or a replayed commit shifts one counter
    * and the oracle goes red — conservation proven end-to-end, not
    * just on the aggregate totals. */
  def twoHopLineage(spark: SparkSession, dir: String): DataFrame = {
    val run = twoHopRun(spark, dir)
    spark.table(run.table)
      .unionAll(spark.range(1).select(
        lit("__lineage").as("event_type"),
        lit(run.rowsAOut).as("n_events"),
        lit(run.rowsBIn).as("total_cents")))
      .orderBy("event_type")
  }

  /** ONE two-hop pipeline run per (session, fixture), at width 4,
    * shared by the t48 totals seat and the t52 lineage seat (the
    * t5/t27 shared-run discipline): the run is identical — t48 grades
    * hop B's aggregate, t52 grades the same run's observed conservation
    * counters — so sharing changes neither graded surface and removes a
    * duplicated two-query stream execution from the board floor. Both
    * seats are flagged `resampled_memoized` in the bench artifact. */
  private final case class TwoHopRun(table: String, rowsAOut: Long,
                                     rowsBIn: Long)
  private val twoHopRunMemo =
    SessionMemo[String, TwoHopRun]("stream_two_hop_run")

  private def twoHopRun(spark: SparkSession, dir: String): TwoHopRun =
    twoHopRunMemo(spark, dir) {
      perfScope(spark, Some(4)) {
        val t = new Topic("graft_t48_")
        val mid = t.path("mid")
        lastTwoHopMidDir = mid
        val Seq(even, odd) = parityStage(spark, dir)
        t.land(even)
        val qA = t.read(spark, paced = true)
          .select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .observe("hopA", count(lit(1)).as("rows_out"))
          .writeStream.format("parquet")
          .option("path", mid)
          .option("checkpointLocation", t.path("ckptA"))
          .outputMode("append").start()
        // hop A must commit batch 0 BEFORE hop B's source lists `mid`:
        // the file source probes the directory (and its sink log) at
        // start
        try qA.processAllAvailable()
        catch { case e: Throwable => qA.stop(); throw e }
        val tableB = freshName("graft_t48")
        val qB =
          try spark.readStream
            .schema("event_id BIGINT, event_type STRING, cents BIGINT")
            .option("maxFilesPerTrigger", 1)
            .parquet(mid)
            .observe("hopB", count(lit(1)).as("rows_in"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
            .writeStream.format("memory").queryName(tableB)
            .option("checkpointLocation", t.path("ckptB"))
            .outputMode("complete").start()
          catch { case e: Throwable => qA.stop(); throw e }
        try {
          qB.processAllAvailable()
          // second paced arrival: A commits another sink epoch while B
          // is live — B's offset log advances across A's commit boundary
          t.land(odd)
          qA.processAllAvailable()
          qB.processAllAvailable()
        } finally { qA.stop(); qB.stop() }
        // fold the per-batch observed counters (bounded: one row per
        // micro-batch progress, a handful per run — never data-sized)
        def observedSum(q: StreamingQuery,
                        name: String, metric: String): Long =
          q.recentProgress.flatMap(p =>
            Option(p.observedMetrics.get(name)).map(_.getAs[Long](metric)))
            .sum
        TwoHopRun(tableB, observedSum(qA, "hopA", "rows_out"),
          observedSum(qB, "hopB", "rows_in"))
      }
    }

  /** T5: stateful streaming dedup — the engine form of the reference's
    * UNIQUE(voter_id) gate (`/root/reference/main.py:55-59`). Emits each
    * user once (append mode, state store keyed by user). Output is the
    * distinct-user set, which is deterministic regardless of which arrival
    * won the state race. */
  def streamingDedupUsers(spark: SparkSession, dir: String): DataFrame =
    streamTable(spark, eventStream(spark, dir), "append", Some(8)) { df =>
      df.dropDuplicates("user_id").select("user_id")
    }

  /** ONE dedup pipeline run per (session, fixture), at width 8, shared
    * by the t5 emission seat and the t27 state-readback seat — they are
    * the same pipeline run twice through round 15 (t27's scaladoc even
    * says "runs [[streamingDedupUsers]]' pipeline"): t5 grades the
    * append-mode EMISSIONS, t27 grades the state data source's read of
    * the checkpoint that same run left behind, so sharing the run
    * changes neither seat's graded surface — it removes a duplicated
    * stream execution from the board floor (the t29/t29b shared-ingest
    * discipline). Whichever seat runs first pays the pipeline (never
    * the warm pass — the pipeline IS t5's graded work). Returns
    * (memory-sink table, checkpoint): the memory sink's temp view
    * outlives the stopped query, and the two paced arrivals guarantee
    * the checkpoint's state crossed a batch boundary (the t27 grading
    * requirement). */
  private val dedupRunMemo =
    SessionMemo[String, (String, String)]("stream_dedup_run")

  private def dedupPipelineRun(spark: SparkSession, dir: String)
      : (String, String) =
    dedupRunMemo(spark, dir) {
      perfScope(spark, Some(8)) {
        val t = new Topic("graft_t5_")
        val ckpt = t.path("ckpt")
        val q = drain(t.group(parityStage(spark, dir): _*))(toMemory(
          t.read(spark, paced = true).dropDuplicates("user_id")
            .select("user_id"),
          "graft_t5", "append", Some(ckpt)))
        (q.name, ckpt)
      }
    }

  /** The t5 GRADED entry: the shared pipeline run's append emissions
    * (see [[dedupPipelineRun]] — same pipeline, same oracle as
    * [[streamingDedupUsers]], which stays as the conf-sensitive generic
    * form behind t25's RocksDB variant and the backend-parity specs). */
  def streamingDedupUsersShared(spark: SparkSession, dir: String): DataFrame =
    spark.table(dedupPipelineRun(spark, dir)._1)

  /** T25: [[streamingDedupUsers]] with keyed state in **RocksDB** — the
    * backend a 100 TB deployment actually runs. The default HDFS-backed
    * provider keeps every key on the executor HEAP, so state is bounded
    * by JVM memory; `RocksDBStateStoreProvider` (bundled: rocksdbjni)
    * holds state in native memory + local SST files and checkpoints via
    * changelog, so per-executor state scales to disk, not heap. Same
    * pipeline, same oracle as t5 — a hash match grades that the backend
    * swap is semantics-free on the driver's own gate (the spec suite
    * additionally pins backend-independence for windowed aggs and
    * session windows). Conf is query-scoped via [[withRocksDb]] (reentrant
    * on the session lock), so the rest of the board keeps the default
    * provider. */
  def streamingDedupUsersRocksDB(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark)(streamingDedupUsers(spark, dir))

  /** The running-totals fold of t26, t34 and t37: one
    * `ValueState[(n, cents)]` cell per user, named "totals", folded over
    * each batch's rows and re-emitted as (user, n, cents) — the
    * arbitrary-state cell Spark 4's `transformWithState` gives an
    * operator author, with the lifecycle (init per partition,
    * handleInputRows per key per batch) made explicit. Cents are integer,
    * so the fold is order-insensitive and the emitted totals replay
    * exactly in SQL. `ttl` bounds the cell's life (t34; an expired cell
    * reads as absent, so the fold restarts from zero).
    * `handleInitialState` seeds the cell from a prior deployment's totals
    * before the first batch touches it (t37); t26 and t34 run it through
    * the overload without initial state. */
  private class TotalsProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), (Long, Long, Long), (Long, Long)] {
    @transient private var totals:
        org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        ttl)
    override def handleInitialState(user: Long, warm: (Long, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      totals.update(warm)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var (n, c) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { case (_, cents) => n += 1; c += cents }
      totals.update((n, c))
      Iterator.single((user, n, c))
    }
  }

  /** Events as (user_id, integer cents) rows keyed by user — the input of
    * every (n, cents) totals fold (t26, t28, t34, t37). */
  private def centsByUser(df: DataFrame)
      : org.apache.spark.sql.KeyValueGroupedDataset[Long, (Long, Long)] = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
  }

  /** The "totals" cell a [[TotalsProcessor]] run left in `ckpt`, read back
    * through the state data source as (user_id, n_events, total_cents) —
    * t39's audit and t37's seeded-key side. */
  private def totalsCell(spark: SparkSession, ckpt: String): DataFrame =
    spark.read.format("statestore")
      .option("path", ckpt)
      .option("stateVarName", "totals").load()
      .select(col("key.value").as("user_id"),
        col("value._1").as("n_events"),
        col("value._2").as("total_cents"))

  /** T26: per-user running totals on **`transformWithState`** — Spark 4's
    * arbitrary-state operator (successor of `mapGroupsWithState`, the
    * reference's per-voter state in `main.py:55-59` generalized): typed
    * state cells behind a `StatefulProcessorHandle`, explicit TTL config,
    * timers, and a RocksDB-only state backend (conf-scoped here exactly
    * as in [[streamingDedupUsersRocksDB]] — TWS refuses the HDFS-heap
    * provider by design, because arbitrary state is what grows past
    * heap at 100 TB). Update mode emits each touched user's running
    * (n_events, total_cents) per micro-batch; the graded frame keeps the
    * LAST emit per user — n_events is strictly increasing per key, so
    * `max(struct(n_events, total_cents))` selects it deterministically —
    * which must equal the batch GROUP BY the oracle replays. */
  def transformWithStateTotals(spark: SparkSession, dir: String): DataFrame =
    lastEmit(spark.table(twsTotalsRun(spark, dir)._1), Seq("user_id"),
      "n_events", "total_cents").orderBy("user_id")

  /** The last update-mode emit per `keys`: the leading `fields` value
    * strictly increases per key across emits, so `max(struct(fields))`
    * selects the last one deterministically (t26, t28, t32, t33, t37). */
  private def lastEmit(emits: DataFrame, keys: Seq[String],
                       fields: String*): DataFrame =
    emits.groupBy(keys.map(col): _*)
      .agg(max(struct(fields.map(col): _*)).as("m"))
      .select(keys.map(col) ++ fields.map(f => col(s"m.$f").as(f)): _*)

  /** ONE `transformWithState` totals run per (session, fixture), at
    * width 8, shared by the t26 emission seat and the t39 TWS
    * state-source seat — the same consolidation as [[dedupPipelineRun]]:
    * t26 grades the update-mode emissions, t39 grades the
    * state data source's decode of the "totals" ValueState cell from
    * the run's checkpoint. Whichever seat runs first pays the pipeline
    * (never the warm pass). RocksDB provider is inherent — TWS refuses
    * the HDFS-heap provider — and the conf scope closes before the
    * memo returns, so the provider override cannot leak. */
  private[graft] val twsTotalsMemo =
    SessionMemo[String, (String, String)]("stream_tws_totals")

  private def twsTotalsRun(spark: SparkSession, dir: String): (String, String) =
    twsTotalsMemo(spark, dir) {
      withRocksDb(spark) {
        perfScope(spark, Some(8)) {
          import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
          import spark.implicits._
          val ckpt = graft.TmpDirs.create("graft_t26_").resolve("ckpt").toString
          val q = drain()(toMemory(centsByUser(eventStream(spark, dir))
            .transformWithState(new TotalsProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_events", "total_cents"),
            "graft_t26", "update", Some(ckpt)))
          (q.name, ckpt)
        }
      }
    }

  /** V1 state for [[stateSchemaUpgradeTotals]] — named-field case class,
    * because Avro state-schema evolution resolves fields BY NAME: the V2
    * shape keeps `n`/`cents` and adds one nullable field. */
  private[streaming] case class Totals1(n: Long, cents: Long)
  /** V2 state: `n2` counts events seen SINCE the upgrade. `Option` so the
    * SQL-side field is nullable — Avro gives an added nullable field a
    * null default, which is what lets V2 read V1-era state rows. */
  private[streaming] case class Totals2(n: Long, cents: Long, n2: Option[Long])

  private class TotalsProcessorV1
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    @transient private var totals:
        org.apache.spark.sql.streaming.ValueState[Totals1] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[Totals1]("totals",
        org.apache.spark.sql.Encoders.product[Totals1],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      val prev = if (totals.exists()) totals.get() else Totals1(0L, 0L)
      var (n, cents) = (prev.n, prev.cents)
      rows.foreach { case (_, c) => n += 1; cents += c }
      totals.update(Totals1(n, cents))
      Iterator.single((key, n, cents))
    }
  }

  /** The UPGRADED processor: same state cell name, WIDENED state type.
    * Reading a V1 row yields `n2 = None` (the Avro null default); the
    * processor treats that as 0 and keeps counting. */
  private class TotalsProcessorV2
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long, Long)] {
    @transient private var totals:
        org.apache.spark.sql.streaming.ValueState[Totals2] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[Totals2]("totals",
        org.apache.spark.sql.Encoders.product[Totals2],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val prev = if (totals.exists()) totals.get()
                 else Totals2(0L, 0L, Some(0L))
      var (n, cents) = (prev.n, prev.cents)
      var n2 = prev.n2.getOrElse(0L)
      rows.foreach { case (_, c) => n += 1; cents += c; n2 += 1 }
      totals.update(Totals2(n, cents, Some(n2)))
      Iterator.single((key, n, cents, n2))
    }
  }

  /** T28: CHECKPOINT UPGRADE — restart with a CHANGED plan over the SAME
    * checkpoint, the migration every long-running stream eventually
    * faces ([[recoverableTally]] grades plain kill-and-restart; this
    * grades kill, REDEPLOY NEW CODE, restart). Phase 1 runs the V1
    * totals processor (state = (n, cents)) over the even half of the
    * events; phase 2 restarts from the same checkpoint with the V2
    * processor whose state adds `n2` (events seen since the upgrade) and
    * streams the odd half. This is only legal with the Avro state
    * encoding (`spark.sql.streaming.stateStore.encodingFormat = avro`),
    * under which Spark evolves the state schema by Avro field-resolution
    * rules — V2 reads a V1 row with `n2 = null`. The UnsafeRow default
    * REFUSES the same restart (StateSchemaUpgradeSpec pins both the
    * refusal and the eager evolution path).
    *
    * Grading: `n`/`cents` must keep accumulating ACROSS the upgrade
    * (recovery), and `n2` must count exactly the phase-2 events (the
    * evolved field starts null for pre-upgrade keys). Both are replayed
    * exactly by the oracle: count/sum over all events, count over the
    * odd half. Users untouched in phase 2 surface from the phase-1
    * emissions with `n2 = 0`; last-emit-per-user selection is the t26
    * max-struct discipline (`n` is strictly increasing per key). */
  def stateSchemaUpgradeTotals(spark: SparkSession, dir: String,
                               encoding: String = "avro"): DataFrame = {
    val emitted = withRocksDb(spark,
        "spark.sql.streaming.stateStore.encodingFormat" -> encoding) {
      perfScope(spark, Some(4)) {
        val t = new Topic("graft_t28_")
        // parquet FILE sink, not memory: the memory sink refuses
        // checkpoint recovery outside complete mode, and recovery is the
        // whole seat; the sink's _spark_metadata log additionally makes
        // the emissions exactly-once across the restart (the s9 seam)
        val out = t.path("out")
        // arrivals are the SHARED memoized parity halves (the upgrade
        // boundary is the event-id parity split, exactly the staged
        // layout's key) — cents derive in-stream, so the seat stages
        // nothing of its own
        val Seq(even, odd) = parityStage(spark, dir)
        def phase(arrival: Path)(processorOut: DataFrame => DataFrame): Unit =
          drain(t.group(arrival))(processorOut(t.read(spark, paced = true))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", t.path("ckpt"))
            .outputMode("append").start())
        import spark.implicits._
        phase(even) { df =>
          centsByUser(df)
            .transformWithState(new TotalsProcessorV1,
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Append())
            .toDF("user_id", "n_events", "total_cents")
        }
        // the upgrade boundary: new input lands, NEW CODE restarts on
        // the same checkpoint
        phase(odd) { df =>
          centsByUser(df)
            .transformWithState(new TotalsProcessorV2,
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Append())
            .toDF("user_id", "n_events", "total_cents", "n2_since_upgrade")
        }
        // Readback under an EXPLICIT nullable schema: phase-1 part files
        // predate the n2 column (null there — exactly the pre-upgrade
        // emissions). mergeSchema would instead inherit n2's
        // NON-nullability from the phase-2 footers (the processor emits
        // a primitive), and the vectorized reader refuses a required
        // column missing from a file. The path-based read still goes
        // through the sink's _spark_metadata log.
        spark.read.schema(
            "user_id BIGINT, n_events BIGINT, total_cents BIGINT, " +
            "n2_since_upgrade BIGINT")
          .parquet(out)
      }
    }
    lastEmit(emitted.withColumn("n2_since_upgrade",
        coalesce(col("n2_since_upgrade"), lit(0L))), Seq("user_id"),
      "n_events", "total_cents", "n2_since_upgrade").orderBy("user_id")
  }

  /** T29: STREAMING IVF INGEST + SERVE — continuous ingest into the
    * partitioned IVF layout, then top-k served against the GROWN corpus.
    * The batch family builds the index once
    * ([[graft.ext.SimilarityOps.ivfTopKPruned]]); the shape a live corpus
    * hits next is vectors arriving AFTER the build: the coarse quantizer
    * stays FIXED (standard IVF — centroids are a build-time artifact;
    * re-clustering is an offline rebuild), each arriving vector is
    * assigned to its nearest cell by the same argmax the k-means
    * assignment uses, and lands in the layout's cell partition.
    *
    * Harness: the even-id half of `embeddings` is the sealed base
    * segment (batch-written, Hive-partitioned by cell = label); its
    * per-cell centroids are collected once (k·d doubles — bounded,
    * independent of N). The odd-id half arrives as TWO staged files
    * (two real micro-batches with a committed offset between) through a
    * stateless streaming projection — unit-centroid argmax via the
    * native [[graft.functions.CentroidArgmax]], centroids attached via
    * a broadcast one-row stream-static join (compile-once, not a
    * typedlit) — into a parquet sink
    * partitioned by cell (its own segment dir: a streaming sink owns its
    * `_spark_metadata` log, so it cannot share the base dir). Serving
    * reads base ∪ ingest pruned to the `nprobe` probed cells —
    * `PartitionFilters` on BOTH segments (spec-asserted) — and ranks
    * cosine top-k. The oracle replays everything: base centroids, the
    * argmax assignment of the odd half, the probe ranking, and the
    * post-ingest top-k, so a vector lost in ingest, assigned to the
    * wrong cell, or served from an unprobed cell goes red. */
  /** The memoized ingest behind the two t29 serving shapes: one grown
    * corpus per (session, fixture dir), exactly like the Storage layout
    * memos — the ingest cost lands on whichever serve runs first (its
    * graded surface), the second measures pure serving. */
  private val ivfIngestMemo = SessionMemo[String,
    (String, String, Array[(Long, Array[Double])])]("stream_ivf_ingest")

  /** Bench warm hook: materialize the session's memoized staged
    * layouts for `dir` — every registered [[Layout]] plus the non-layout
    * builds (ivf ingest, t37 warm table, t53 corpus index, sentinels) —
    * so their ONE-TIME write
    * happens outside the timed region instead of inside whichever
    * family member the query map orders first (the storage/media
    * fixture pre-stage discipline in [[graft.Bench]]). The timed
    * queries still pay all their own streaming work; only the shared
    * immutable layout write moves. */
  def warmStagedLayouts(spark: SparkSession, dir: String): Unit = {
    // each step guarded INDIVIDUALLY (the Bench warm invariant): one
    // failing layout (e.g. a missing media fixture) must not silently
    // skip the unrelated stages after it
    def step(what: String)(s: => Any): Unit =
      try { s; () } catch { case e: Throwable =>
        System.err.println(s"[warmStagedLayouts] $what failed: ${e.getMessage}") }
    layouts.foreach(l => step(l.name)(l(spark, dir)))
    // the t29 ingest build (segment writes + centroid collect + the
    // ingest stream itself) is one-time per session by construction —
    // t29b shares it — so its write belongs with the staged layouts,
    // outside the timed region
    step("ivf ingest")(ivfIngestedSegments(spark, dir))
    step("t37 warm table")(t37WarmTable(spark, dir))
    step("t53 corpus index")(
      graft.ext.DedupOps.corpusIndex(t53Corpus(spark, dir), 3))
    // the memoized watermark-sentinel files: t4/t42 flush at max(ts),
    // the session seats (t9/t44) at the shared far-future pair
    // (maxTs + gapCeil(1h) + delay(1h) + margin(1h), and +1h again)
    step("sentinels") {
      val mt = maxEventTs(spark, dir).getOrElse(new Timestamp(0L)).getTime
      Seq(mt, mt + 3L * 3600 * 1000, mt + 4L * 3600 * 1000)
        .foreach(at => sentinelFile(spark, at))
    }
  }

  private def ivfIngestedSegments(spark: SparkSession, dir: String)
      : (String, String, Array[(Long, Array[Double])]) =
    ivfIngestMemo(spark, dir) {
      import graft.ext.SimilarityOps.{vecD, centroidsOf}
      val t = new Topic("graft_t29_")
      val baseDir = t.path("base")
      val ingestDir = t.path("ingest")

      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label").cast("long").as("cell"),
          vecD("embedding").as("v"))
      val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      base.select("vec_id", "v", "cell")
        .write.partitionBy("cell").parquet(baseDir)

      // build-time quantizer: per-cell centroids of the SEALED base
      // only (one bounded collect — cells·d doubles)
      val cents = centroidsOf(base, "cell").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val unit = cents.sortBy(_._1).map { case (cell, cv) =>
        val n = math.sqrt(cv.map(x => x * x).sum)
        (cell, cv.map(_ / n).toSeq)
      }.toSeq

      // continuous ingest: two staged arrival files (vec_id % 4 = 1, 3)
      // both land before start = two paced micro-batches
      val ingest = stageArrivals(emb.filter(pmod(col("vec_id"), lit(2)) === 1)
        .select(col("vec_id"), col("v"),
          (pmod(col("vec_id"), lit(4)) === 3).as(Arrival)), 2, t.root)
      // centroids through a broadcast one-row COLUMN (stream-static
      // equi-join on a constant key), not a typedlit: the literal
      // would inline cells·d doubles into the expression tree — the
      // compile-once rationale the PQ family documents at
      // [[graft.ext.SimilarityOps.pqCodesAndBooksUncached]], applied
      // to the one site that still carried the literal form
      val unitRow = spark.createDataFrame(Seq(Tuple1(unit)))
        .toDF("cents").withColumn("__one", lit(1))
      drain(t.group(ingest: _*))(t.read(spark, "vec_id BIGINT, v ARRAY<DOUBLE>",
          paced = true)
        .withColumn("__one", lit(1))
        .join(broadcast(unitRow), "__one")
        .select(col("vec_id"), col("v"),
          call("centroid_argmax", col("v"), col("cents")).as("cell"))
        .writeStream.format("parquet")
        .option("path", ingestDir)
        .option("checkpointLocation", t.path("ckpt"))
        .partitionBy("cell")
        .outputMode("append").start())
      (baseDir, ingestDir, cents)
    }

  /** The grown corpus: sealed base segment ∪ streamed ingest segment,
    * each Hive-partitioned by cell (explicit schema: the partition
    * column reads back as BIGINT on both). */
  private def ivfGrownCorpus(spark: SparkSession, baseDir: String,
                             ingestDir: String): DataFrame = {
    def segment(path: String): DataFrame =
      spark.read.schema("vec_id BIGINT, v ARRAY<DOUBLE>, cell BIGINT")
        .parquet(path)
        .select("vec_id", "v", "cell")
    segment(baseDir).unionByName(segment(ingestDir))
  }

  def streamingIvfIngestServe(spark: SparkSession, dir: String, k: Int = 10,
                              nprobe: Int = 3, queryId: Long = 0L): DataFrame =
      perfScope(spark, Some(4)) {
    import graft.ext.SimilarityOps.cosine
    val (baseDir, ingestDir, cents) = ivfIngestedSegments(spark, dir)

    // serve against the grown corpus: probe ranking uses the SAME
    // build-time centroids (engine-side ranking, ivfTopK's expression
    // shapes); the scan unions the sealed and ingested segments, pruned
    // to the probed cells on both
    val corpus = ivfGrownCorpus(spark, baseDir, ingestDir)
    val qv = corpus.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val centsDf = spark.createDataFrame(
        cents.toSeq.map { case (c, cv) => (c, cv.toSeq) })
      .toDF("cell", "cv")
    val probed = centsDf.crossJoin(broadcast(qv))
      .select(col("cell"),
        cosine("cv", "qv").as("ccos"))
      .orderBy(desc("ccos"), asc("cell"))
      .limit(nprobe)
      .select("cell")
      .collect().map(_.getLong(0))

    corpus
      .filter(col("cell").isin(probed.map(Long.box): _*))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(cosine("v", "qv"), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** T29b: the BATCHED serving shape against the same grown corpus —
    * [[graft.ext.SimilarityOps.ivfTopKBatchPruned]] re-expressed over
    * base ∪ ingest: Q queries (including JUST-INGESTED vectors — an
    * arrival is immediately queryable), one pruned scan of the union of
    * their probe cells, per-query top-k through the bounded-heap
    * aggregator with map-side combine. Probe pairs are a bounded driver
    * collect (Q·nprobe — independent of corpus size). Shares the
    * memoized ingest with [[streamingIvfIngestServe]], so this query
    * measures pure serving; the oracle replays assignment, probe, and
    * ranking per query. */
  def streamingIvfIngestBatchServe(spark: SparkSession, dir: String,
                                   queryIds: Seq[Long] = 0L to 9L,
                                   k: Int = 10, nprobe: Int = 3): DataFrame =
      perfScope(spark, Some(4)) {
    import graft.ext.SimilarityOps.cosine
    import org.apache.spark.sql.Encoders
    val (baseDir, ingestDir, cents) = ivfIngestedSegments(spark, dir)
    val corpus = ivfGrownCorpus(spark, baseDir, ingestDir)
    val qs = corpus.filter(col("vec_id").isin(queryIds.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val centsDf = spark.createDataFrame(
        cents.toSeq.map { case (c, cv) => (c, cv.toSeq) })
      .toDF("cell", "cv")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("ccos"), asc("cell"))
    val probePairs = centsDf.crossJoin(broadcast(qs))
      .select(col("query_id"), col("cell"),
        cosine("cv", "qv").as("ccos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select("query_id", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val unionCells = probePairs.map(_._2).distinct.toSeq
    val probeDf = spark.createDataFrame(probePairs.toSeq)
      .toDF("query_id", "cell")
    val topk = udaf(new graft.functions.TopKAggregator(k),
                    Encoders.product[graft.functions.TopKItem])
    corpus
      .filter(col("cell").isin(unionCells.map(Long.box): _*))
      .join(broadcast(probeDf), "cell")
      .join(broadcast(qs), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        round(cosine("v", "qv"), 6).as("cosine"),
        col("vec_id"))
      .groupBy("query_id")
      .agg(topk(col("cosine"), col("vec_id")).as("top_ids"))
  }

  /** S7e: the generator CONNECTOR as a STREAMING source — the micro-batch
    * read path of [[graft.sources.GenSource]] ([[graft.sources.GenSource]]'s
    * `GenMicroBatchStream`: offset log + admission control, the complete
    * Kafka-shaped surface minus the broker) driven through a complete-mode
    * tally. `step` ids are admitted per trigger, so the run REALLY spans
    * ceil(rows/step) micro-batches with offsets committed between them;
    * the final snapshot must equal the batch formula the oracle replays. */
  def customSourceStreamTally(spark: SparkSession, rows: Long = 1000L,
                              step: Long = 256L): DataFrame =
      perfScope(spark, Some(4)) {
        drainToTable()(spark.readStream
          .format(classOf[graft.sources.GenSource].getName)
          .option("rows", rows).option("partitions", 4).option("step", step)
          .load()
          .groupBy("party_affiliation")
          .agg(count(lit(1)).as("n_voters")),
          "graft_s7e", "complete").orderBy("party_affiliation")
      }

  /** T27: STATE-STORE READBACK — Spark 4's state data source (format
    * `statestore`), the operational surface a 100 TB deployment uses to
    * audit, debug, or seed-migrate checkpointed state without replaying
    * the stream. The harness reads the keyed state OUT of the
    * checkpoint the SHARED t5 dedup run left behind
    * ([[dedupPipelineRun]] — two paced files, so state survives a
    * batch boundary) as a batch frame. `dropDuplicates`' state keys
    * ARE the distinct-user set, so the readback grades against t5's own
    * oracle — proving the persisted state is exactly the semantic state,
    * not an opaque blob. The read is partitioned like the state itself
    * (one task per state partition); nothing is replayed. */
  def stateSourceDedupAudit(spark: SparkSession, dir: String): DataFrame =
    stateSourceDedupAuditWithCkpt(spark, dir)._1

  /** [[stateSourceDedupAudit]] plus the checkpoint path, so specs can
    * additionally probe the `state-metadata` companion source (operator
    * name, state partition count, committed batch range). The pipeline
    * whose checkpoint is audited is the SHARED t5 run
    * ([[dedupPipelineRun]]) — this seat pays only the state read unless
    * it happens to run first. */
  private[graft] def stateSourceDedupAuditWithCkpt(
      spark: SparkSession, dir: String): (DataFrame, String) = {
    val (_, ckpt) = dedupPipelineRun(spark, dir)
    (spark.read.format("statestore").option("path", ckpt).load()
      .select(col("key.user_id").as("user_id"))
      .orderBy("user_id"), ckpt)
  }

  /** T4: late-data DROP on the graded path — append-mode hourly window
    * aggregate with a 1-hour watermark, fed in two batches: batch 1 is
    * 4/5 of the events (advancing the watermark to max(ts) − 1 h), batch
    * 2 delivers the held-back fifth, almost all of which is now LATE and
    * must be dropped (not re-counted — the exact failure `voting.py`'s
    * at-least-once consumer would double-count). Append mode emits only
    * windows finalized by the watermark, so the result is deterministic:
    * batch-1 rows, in windows whose end ≤ the batch-1 watermark. The
    * oracle recomputes both the watermark and the window filter in SQL. */
  def lateDropHourly(spark: SparkSession, dir: String): DataFrame =
      // perfScope (no-data batches OFF): f0's windows must be finalized
      // and emitted BEFORE the late file lands — without an intervening
      // batch the boundary windows are still open when f1 arrives and
      // absorb rows the oracle drops (verified red locally). The
      // finalization batch here is a DATA batch: one sentinel row at
      // ts = max(f0.ts), which (a) leaves the watermark exactly where
      // batch 1 set it and (b) joins the top boundary window, whose end
      // sits ABOVE the watermark — a window append mode never emits on
      // this fixture — so the sentinel can never surface in the result.
      // Replacing the empty finalization batch (a full state-commit
      // round for zero input) with it cuts the run from 2 data + 2
      // no-data batches to 3 data batches.
      // Width 4: state sized to the keys (720 hourly windows), not the
      // cluster — every micro-batch commits one store per partition, so
      // 4 halves the fixed per-batch I/O vs 8 (results width-invariant,
      // the PartitionInvarianceSpec board property).
      perfScope(spark, Some(4)) {
    val t = new Topic("graft_t4_")

    // The held-back LATE set is defined relative to the global max event
    // time: id-hash picked AND at least 2 h older than max(ts). The time
    // bound makes the gate fixture-independent: (a) the max-ts row always
    // lands in batch 1, so later batches cannot advance the watermark and
    // finalize windows the oracle excludes; (b) every held-back row sits
    // below the batch-1 watermark (max − 1 h) and must be dropped as
    // late. One bounded scalar (max ts) comes to the driver.
    // empty-fixture fallback: epoch-0 anchor — the late filter then
    // selects over zero rows and the sentinel window never finalizes
    val maxTs = maxEventTs(spark, dir).getOrElse(new Timestamp(0L))
    val late = pmod(col("event_id"), lit(5)) === 0 &&
      col("ts") <= lit(maxTs) - expr("INTERVAL 2 HOURS")

    // ONE staging pass (one event scan) for both arrival files; per
    // call, because the late set is this seat's own.
    val Seq(onTime, lateFile) = stageArrivals(
      events5(spark, dir).withColumn(Arrival, late), 2, t.root)
    // batch 2 is the sentinel finalization row (see the scope comment) —
    // the batch-1 watermark takes effect at its start, finalizing and
    // emitting every window the oracle includes; the staged 1-row file
    // is shared with t42 (same max(ts) instant). Batch 3 is the held-back
    // late file — every row below the watermark (a fixture with NO late
    // rows lands a zero-row file, and the result is still the oracle's).
    drainToTable(t.group(onTime), t.group(sentinelFile(spark, maxTs.getTime)),
        t.group(lateFile))(
      // no maxFilesPerTrigger: arrivals are already metered one file per
      // drain step
      t.read(spark)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("hour_start"),
          col("n_events")),
      "graft_t4", "append")
      }


  /** T5b: BOUNDED-state streaming dedup — `dropDuplicatesWithinWatermark`,
    * the form that survives an unbounded stream: a key's state is evicted
    * once the watermark passes its event time + delay, so state is
    * O(keys-within-horizon), not O(all keys ever) like plain
    * `dropDuplicates` ([[streamingDedupUsers]]). Graded with real late-dup
    * injection: batch 1 is the full events table; batch 2 re-delivers a
    * third of the users' events one hour older (at-least-once redelivery,
    * the exact failure mode the reference's consumer tolerates,
    * `/root/reference/voting.py:19-21`). The delay spans the fixture, so
    * every re-delivery lands within the watermark and MUST be suppressed —
    * the oracle (distinct users) goes red on any re-emission. The eviction
    * path (re-emission after state expiry) is pinned by a spec. */
  def streamingDedupUsersWatermarked(spark: SparkSession, dir: String,
                                     delay: String = "45 days"): DataFrame =
      perfScope(spark, Some(8)) {
    val t = new Topic("graft_t5b_")
    // batch 1 is the full events table: BOTH memoized parity halves as
    // batch-0 arrivals (no maxFilesPerTrigger — they drain together);
    // batch 2 the late re-delivery: same users, one hour earlier, fresh
    // event ids (memoized too, so its one-time write lands in
    // warmStagedLayouts, not this seat's timed region)
    drainToTable(t.group(parityStage(spark, dir): _*),
        t.group(t5bStage(spark, dir): _*))(
      t.read(spark)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("user_id")
        .select("user_id"),
      "graft_t5b", "append")
      }

  /** Max event time per (session, fixture) — the sentinel/finalization
    * anchor several watermark harnesses need (t4, t9, t42, t44). One
    * bounded scalar from a ts-column-only scan, memoized so the board
    * pays the job once per fixture, not once per seat. */
  private val maxTsMemo =
    SessionMemo[String, Option[Timestamp]]("stream_max_ts")
  /** None iff the events fixture is EMPTY (max over zero rows is null —
    * the degenerate-fixture case every harness here must survive, per
    * the [[stageArrivals]] contract), so the memo stores the Option. */
  private[streaming] def maxEventTs(spark: SparkSession, dir: String): Option[Timestamp] =
    maxTsMemo(spark, dir) {
      Option(graft.Tables.events(spark, dir).agg(max("ts")).head().getTimestamp(0))
    }

  /** One staged single-row watermark-sentinel parquet file per (session,
    * instant): the sentinel row's CONTENT depends only on its event time
    * (event_id/user_id −1, type `wm_sentinel`, value 0), so the 1-row
    * staging write — a full Spark job, ~0.1–0.2 s of pure per-seat
    * machinery — is memoized and each harness hard-links the shared
    * immutable file into its own topic as a fresh arrival. t4 and t42
    * both flush at max(ts); t9 and t44 share one far-future anchor. */
  private val sentinelMemo = SessionMemo[Long, Path]("stream_sentinel")
  private def sentinelFile(spark: SparkSession, atMs: Long): Path =
    sentinelMemo(spark, atMs, valid = Files.exists(_)) {
      stageArrivals(spark.range(1).select(
          lit(-1L).as("event_id"),
          lit(new Timestamp(atMs)).as("ts"),
          lit(-1L).as("user_id"),
          lit("wm_sentinel").as("event_type"),
          lit(0.0).as("value"),
          lit(0).as(Arrival)),
        1, graft.TmpDirs.create("graft_sentinel_")).head
    }

  /** Shared append-mode session harness behind [[streamingSessionCounts]]
    * (fixed gap) and [[streamingDynamicGapSessions]] (per-event gap): a
    * watermarked `session_window` aggregate whose state is O(open
    * sessions) and whose emission is each session EXACTLY ONCE, when the
    * watermark passes its close — the cost law that survives an unbounded
    * stream (contrast: complete mode re-emits Σ|state| per batch,
    * measured arrival-axis exponent 1.4 —
    * [[streamingSessionCountsComplete]] keeps that form as the unmetered
    * contrast). The bounded replay is flushed by TWO far-future sentinel
    * arrivals: sentinel 1 (maxTs + maxGap + delay + 1 h) advances the
    * watermark past every real session's close, sentinel 2 gives that
    * watermark a data batch to take effect (no-data batches are off in
    * [[perfScope]]). Neither sentinel can surface: each opens a session
    * whose close sits ABOVE every watermark the run ever reaches. Returns
    * the raw append emissions (user_id, w: session_window, n_events). */
  /** `fold = None`: the raw append emissions land in a memory sink —
    * right when the session list IS the graded output (t44), collected
    * exactly once. `fold = Some(f)`: each batch's closed sessions stay
    * DISTRIBUTED — `f(batch)` appends a per-batch partial to a parquet
    * snapshot and the caller re-aggregates partials (t9: per-user counts
    * summed) — so nothing data-sized ever reaches the driver; each
    * session is closed in exactly one batch, so the partial fold is
    * exact regardless of batch split. */
  private def sessionFlushAppend(spark: SparkSession, dir: String, tag: String,
                                 gapExpr: org.apache.spark.sql.Column,
                                 maxGapMs: Long,
                                 fold: Option[DataFrame => DataFrame] = None)
      : DataFrame =
      // both session seats (t9, t44) are graded at width 4
      perfScope(spark, Some(4)) {
    val t = new Topic(s"graft_${tag}_")
    // empty-fixture fallback: epoch-0 anchor — zero-row staged arrivals,
    // sentinel sessions never close, graded frame is correctly empty
    val maxTs = maxEventTs(spark, dir).getOrElse(new Timestamp(0L))
    val delayMs = 3600L * 1000 // the 1 h watermark below
    // anchor from the HOUR-rounded maxGap ceiling, not the caller's exact
    // gap, so every session seat shares one memoized pair of sentinel
    // files (t9's 30 min and t44's 60 min both round to 1 h; a later
    // anchor flushes exactly the same sessions)
    val gapCeilMs = ((maxGapMs + 3599999L) / 3600000L) * 3600000L
    val s1 = maxTs.getTime + gapCeilMs + delayMs + 3600L * 1000
    // TIME-split arrivals, the early half before start and the late half
    // as its own micro-batch: the seats grade session state merging
    // ACROSS micro-batches, so real events must genuinely span two
    // batches (a single drain would let a cross-batch merge regression
    // pass the oracle). The split must be on time, not parity — see
    // [[timeSplitStage]]: a parity second half would arrive below the
    // first batch's watermark and be silently late-dropped. The two
    // sentinels follow as batches 3 and 4.
    val Seq(early, late) = timeSplitStage(spark, dir)
    val steps = Seq(t.group(early), t.group(late),
      t.group(sentinelFile(spark, s1)),
      t.group(sentinelFile(spark, s1 + 3600L * 1000)))
    val emissions = t.read(spark)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gapExpr).as("w"))
      .agg(count(lit(1)).as("n_events"))
    // The sentinel belt-filter (user_id != -1, against a future gap/delay
    // retune breaking the cannot-emit invariant) must run on the SINK
    // side, never in the streaming plan: in-plan it is a pushable
    // grouping-key predicate, and the optimizer pushes it BELOW the
    // EventTimeWatermark node — the sentinel rows then never advance the
    // watermark and the final sessions never flush (caught by the oracle:
    // 24 tail sessions missing at sf0.01).
    val belt = (df: DataFrame) => df.filter(col("user_id") =!= -1L)
    fold match {
      case Some(f) =>
        val out = t.path("snap")
        drain(steps: _*)(
          appendFold(emissions, "append", t.path("ckpt"), out)(belt andThen f))
        spark.read.parquet(out)
      case None =>
        belt(drainToTable(steps: _*)(emissions, s"graft_$tag", "append"))
    }
  }

  /** T5b/T-tier: gap-based sessionization as a FIRST-CLASS streaming
    * aggregation — `session_window` merges an event into the open session
    * while it lands inside `[last_event, last_event + gap)`, growing state
    * per (user, open session) only. APPEND mode + watermark: each session
    * is emitted (and its state EVICTED) exactly once, when the watermark
    * passes its close — the production configuration for an unbounded
    * stream, and the scale-safe cost law (per arrival: state update +
    * closed-session emission; never a re-emission of the full session
    * set). The bounded replay is flushed by the [[sessionFlushAppend]]
    * sentinel discipline. The per-user count equals the sort-based
    * [[graft.ops.Sessionize]] result at microsecond precision. */
  def streamingSessionCounts(spark: SparkSession, dir: String,
                             gap: String = "30 minutes"): DataFrame = {
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    // fixture gaps are sub-day; reject a gap whose flush anchor the
    // sentinel arithmetic below can't bound (months are calendar-variable)
    require(gapMs.months == 0, s"calendar-variable gap '$gap' unsupported")
    val maxGapMs = gapMs.days * 86400000L + gapMs.microseconds / 1000L
    // distributed per-batch fold: the closed-session list never reaches
    // the driver — each batch appends per-user partial counts, summed
    // here (each session closes in exactly one batch, so this is exact)
    sessionFlushAppend(spark, dir, "t9", lit(gap), maxGapMs,
        fold = Some(_.groupBy("user_id").agg(count(lit(1)).as("n_part"))))
      .groupBy("user_id").agg(sum("n_part").as("n_sessions"))
  }

  /** The complete-mode + distributed-foreachBatch form of
    * [[streamingSessionCounts]] — kept as the UNMETERED measured contrast
    * (spec + scaling artifact, not a graded board seat): complete mode
    * re-aggregates and re-emits Σ|state| every batch (measured
    * arrival-axis exponent 1.4 at the 10×/32-arrival fixture vs ~1.0 for
    * the append form), which is the scale-killer output mode for
    * data-sized results. The foreachBatch fold keeps the re-emission
    * DISTRIBUTED (a memory sink would collect it to the driver every
    * batch — measured 54 s vs 29 s at 10×). */
  def streamingSessionCountsComplete(spark: SparkSession, dir: String,
                                     gap: String = "30 minutes"): DataFrame =
      // ungraded: the contrast keeps the session width
      perfScope(spark, None) {
    val out = graft.TmpDirs.create("graft_t9c_").resolve("snap").toString
    drain()(eventStream(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode("complete")
      .foreachBatch { (snap: DataFrame, _: Long) =>
        snap.groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
          .write.mode("overwrite").parquet(out); ()
      }
      .start())
    spark.read.parquet(out)
  }

  /** T10: stream-stream INTERVAL join — Structured Streaming's marquee
    * stateful operator, and the general form of the as-of join ([[
    * streamingAsOfAttribution]] keeps ONE candidate per key; this keeps
    * every click within the tolerance window). Both sides are streams
    * (clicks and purchases of the same event firehose), each watermarked;
    * the event-time range condition is what lets Spark EVICT a click's
    * state once the watermark passes `click_ts + tolerance` — state is
    * O(events in the tolerance horizon), not O(stream). Inner join,
    * append mode: each qualifying (purchase, click) pair is emitted
    * exactly once. The batch SQL range join is the oracle. */
  def streamStreamIntervalJoin(spark: SparkSession, dir: String,
                               toleranceSec: Long = 3600L): DataFrame =
    intervalJoin(spark, dir, toleranceSec, "inner", "graft_ssj")(
      col("purchase_id"), col("click_id"), col("user_id"), gapUs)

  /** The two watermarked sides every stream-stream join here builds on.
    * Sources are the staged per-type topics ([[typeStage]]), not
    * full-table filters — the watermark each side tracks is identical
    * (the EventTimeWatermark node sat ABOVE the type filter before, so
    * it always saw only that type's rows). */
  private def joinSides(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val clicks = typedEventStream(spark, dir, "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = typedEventStream(spark, dir, "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    (clicks, purchases)
  }

  /** The interval-join body of t10, t20, t36, t40 and t38: purchases
    * joined (`joinType`) to the same user's clicks in `[purchase_ts -
    * tolerance, purchase_ts]`, projected to `cols` and drained in append
    * mode. A stream-stream join commits per-partition state stores on
    * BOTH sides every micro-batch, so partitions ≫ keys buy nothing:
    * width 4 is sized to the key cardinality (~150 users) — see
    * [[withShufflePartitions]]. The scope comes from the join type: an
    * outer flavor emits its null rows when the watermark evicts them, in
    * the trailing no-data batch, so it keeps that batch
    * ([[withShufflePartitions]] alone); inner and semi emit from data
    * batches only ([[perfScope]]). */
  private def intervalJoin(spark: SparkSession, dir: String,
                           toleranceSec: Long, joinType: String,
                           prefix: String)
                          (cols: org.apache.spark.sql.Column*): DataFrame = {
    def run: DataFrame = {
      val (clicks, purchases) = joinSides(spark, dir)
      drainToTable()(purchases.join(clicks,
          col("user_id") === col("click_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $toleranceSec SECONDS"),
          joinType)
        .select(cols: _*), prefix, "append")
    }
    if (joinType.endsWith("Outer")) withShufflePartitions(spark, Some(4))(run)
    else perfScope(spark, Some(4))(run)
  }

  /** A matched pair's event-time gap, in micros. */
  private def gapUs =
    (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us")

  /** The user of an outer-join row: the purchase side's user_id is NULL
    * on click-only rows. */
  private def eitherUser = coalesce(col("user_id"), col("click_user")).as("user_id")

  /** T20: stream-stream LEFT OUTER interval join — the null-emission
    * semantics [[streamStreamIntervalJoin]]'s inner form can't show.
    * Matched (purchase, click) pairs emit as they match; an UNMATCHED
    * purchase emits once with a NULL click when the engine can prove no
    * future click can reach it — i.e. when its state row is evicted.
    * The join condition bounds matching clicks to `click_ts ≤
    * purchase_ts`, and post-watermark clicks arrive with `click_ts ≥
    * watermark`, so eviction (and the null emission) fires exactly when
    * the global watermark passes `purchase_ts` — Spark derives that
    * state-value watermark from the range condition and applies it in
    * the no-data batch after the last data batch. Purchases inside the
    * final watermark delay stay in state unemitted, exactly as a live
    * pipeline leaves them (the t15 open-session analogue); the oracle
    * replays the eviction predicate in the exec's own ms arithmetic.
    * State stays O(tolerance horizon) on both sides, same as the inner
    * join — the outer flavor adds no state, only the evict-time emit. */
  def streamStreamLeftOuterJoin(spark: SparkSession, dir: String,
                                toleranceSec: Long = 3600L): DataFrame =
    intervalJoin(spark, dir, toleranceSec, "leftOuter", "graft_ssoj")(
      col("purchase_id"), col("click_id"), col("user_id"), gapUs)

  /** T36: stream-stream FULL OUTER interval join — completes the
    * streaming join matrix (inner [[streamStreamIntervalJoin]],
    * left-outer [[streamStreamLeftOuterJoin]]) with null-extended rows
    * emitted on BOTH eviction directions. Matched (purchase, click)
    * pairs emit as they match. An unmatched PURCHASE emits
    * (purchase_id, NULL) when the watermark passes `purchase_ts` — the
    * t20 direction, derived from `click_ts ≤ purchase_ts`. An unmatched
    * CLICK emits (NULL, click_id) when the watermark passes
    * `click_ts + tolerance` — the point past which no future purchase
    * can land inside `[click_ts, click_ts + tolerance]`, derived from
    * `purchase_ts ≤ click_ts + tolerance`. Rows inside the final
    * watermark delay stay in state unemitted on both sides, exactly as
    * a live pipeline leaves them; the oracle replays both eviction
    * predicates in the exec's own ms arithmetic. State is
    * O(tolerance horizon) per side, unchanged from the inner join. */
  def streamStreamFullOuterJoin(spark: SparkSession, dir: String,
                                toleranceSec: Long = 3600L): DataFrame =
    intervalJoin(spark, dir, toleranceSec, "fullOuter", "graft_ssfoj")(
      col("purchase_id"), col("click_id"), eitherUser, gapUs)

  /** T40: stream-stream RIGHT OUTER interval join — the last
    * Spark-supported flavor of the matrix (inner t10, left-outer t20,
    * full-outer t36, left-semi t38). Purchases remain the LEFT side, so
    * the null extension flips to the CLICK side: matched pairs emit as
    * they match; an unmatched CLICK emits (NULL purchase, click) when
    * the watermark passes `click_ts + tolerance` — the point past which
    * no future purchase can land inside `[click_ts, click_ts +
    * tolerance]`, i.e. exactly t36's second eviction direction and ONLY
    * that direction (unmatched purchases never emit here). Clicks
    * inside the final watermark horizon stay in state unemitted; the
    * oracle replays the eviction predicate in the exec's own ms
    * arithmetic. State stays O(tolerance horizon) per side, unchanged
    * from the inner join — the outer flavor adds only the evict-time
    * emit. */
  def streamStreamRightOuterJoin(spark: SparkSession, dir: String,
                                 toleranceSec: Long = 3600L): DataFrame =
    intervalJoin(spark, dir, toleranceSec, "rightOuter", "graft_ssroj")(
      col("purchase_id"), col("click_id"), eitherUser, gapUs)

  /** T38: stream-stream LEFT SEMI interval join — the EXISTENCE flavor
    * completing the join matrix (inner t10, left-outer t20, full-outer
    * t36): each purchase emits AT MOST ONCE, when a click inside
    * `[purchase_ts - tolerance, purchase_ts]` for the same user is
    * seen; the click payload never surfaces (no pair explosion — a
    * purchase with twenty in-range clicks is still ONE output row,
    * which is the fan-out-free shape an attribution EXISTS check wants
    * at 100 TB). Unmatched purchases never emit — no eviction-time
    * null row, so the oracle is the plain batch EXISTS replay with no
    * watermark arithmetic. State stays O(tolerance horizon) per side,
    * as in the other flavors. */
  def streamStreamSemiJoin(spark: SparkSession, dir: String,
                           toleranceSec: Long = 3600L): DataFrame =
    intervalJoin(spark, dir, toleranceSec, "leftSemi", "graft_sssj")(
      col("purchase_id"), col("user_id"),
      unix_micros(col("purchase_ts")).as("purchase_us"))

  /** `df`'s five event columns as typed [[Ev]] rows keyed by user — the
    * input of every per-user state machine here (t8, t11, t13, t15,
    * t30). */
  private def eventsByUser(df: DataFrame)
      : org.apache.spark.sql.KeyValueGroupedDataset[Long, Ev] = {
    val s = df.sparkSession
    import s.implicits._
    df.select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .groupByKey(_.user_id)
  }

  /** Output row of the streaming as-of join. */
  final case class AsOfMatch(left_id: Long, user_id: Long,
                             matched_right_id: Option[Long], gap_s: Option[Long])

  /** T8: the as-of join (attribution: each purchase ↔ latest prior click
    * within tolerance) incrementalized as a keyed state machine —
    * `flatMapGroupsWithState` holding ONE (ts, id) pair per user, exactly
    * the streaming form promised in [[graft.ops.AsOfJoin]]'s scaladoc.
    * State is O(keys), not O(events); per-user batch slices are sorted in
    * memory (bounded by a user's events per micro-batch). Batch-parity:
    * processing order (ts, right-before-left, event_id) and the
    * floor-to-second gap reproduce [[graft.ops.AsOfJoin.attribution]]
    * bit-for-bit, so the same SQL oracle grades both. Micro-batches must
    * arrive in event-time order (guaranteed here: single-file topic; in
    * production enforced with a watermark + reorder buffer upstream). */
  def streamingAsOfAttribution(spark: SparkSession, dir: String,
                               leftType: String = "purchase",
                               rightType: String = "click",
                               toleranceSec: Long = 3600L): DataFrame =
      perfScope(spark, Some(8)) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val matched = eventsByUser(eventStream(spark, dir))
      .flatMapGroupsWithState[(Long, Long), AsOfMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          def sec(ms: Long): Long = Math.floorDiv(ms, 1000L)
          val sorted = evs.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.event_type == rightType) 0 else 1, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[AsOfMatch]()
          sorted.foreach { e =>
            if (e.event_type == rightType)
              state.update((e.ts.getTime, e.event_id))
            else if (e.event_type == leftType) {
              val m = state.getOption.filter { case (cts, _) =>
                sec(e.ts.getTime) - sec(cts) <= toleranceSec
              }
              out += AsOfMatch(e.event_id, user, m.map(_._2),
                m.map { case (cts, _) => sec(e.ts.getTime) - sec(cts) })
            }
          }
          out.iterator
      }
    drainToTable()(matched.toDF(), "graft_asof", "append")
        }

  /** T11: the ordered funnel incrementalized as a keyed state machine —
    * `mapGroupsWithState` holding ONE monotone stage counter per user
    * (0 = nothing, k = reached `stages(k-1)`). Because events are
    * processed in event-time order (same single-file-topic guarantee as
    * [[streamingAsOfAttribution]]; watermark + reorder buffer upstream
    * in production), "first stage-k event strictly after the stage-(k-1)
    * event" degenerates to "advance on match" — O(1) state per key, no
    * per-user timestamp history. The stage counter is MONOTONE, so the
    * update-mode memory sink's row history aggregates with max() and the
    * batch funnel's oracle grades the stream bit-for-bit. */
  /** Full-precision event time in unix MICROS — `ts.getTime` alone is
    * millisecond-truncated, and the batch funnel/oracle compare full
    * timestamps, so two same-user events within 1 ms must still order
    * (and compare strictly) the same way here. */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** The t11 state transition, shared with the MemoryStream spec: fold a
    * user's batch slice (sorted by full-precision event time) over the
    * monotone (stage, last-advanced-ts) state. The advance condition is
    * STRICTLY greater than the timestamp that completed the previous
    * stage — the batch funnel's `ts > prev.t` semantics
    * ([[graft.ops.EventAnalytics.funnel]]); advancing on an equal
    * timestamp would grade the stream differently from the oracle. */
  private[graft] def funnelStep(stages: Seq[String])(
      user: Long, evs: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[(Int, Long)]): (Long, Int) = {
    val stageOf = stages.zipWithIndex.toMap
    var (stage, lastTs) = state.getOption.getOrElse((0, Long.MinValue))
    evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
      val m = tsMicros(e.ts)
      if (stage < stages.size && stageOf.get(e.event_type).contains(stage)
          && m > lastTs) {
        stage += 1; lastTs = m
      }
    }
    state.update((stage, lastTs))
    (user, stage)
  }

  def streamingFunnel(spark: SparkSession, dir: String,
                      stages: Seq[String] = Seq("view", "click", "purchase"))
      : DataFrame =
      perfScope(spark, Some(8)) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val progressed = eventsByUser(eventStream(spark, dir))
      .mapGroupsWithState[(Int, Long), (Long, Int)](GroupStateTimeout.NoTimeout)(
        funnelStep(stages))
    val last = drainToTable()(progressed.toDF("user_id", "stage"),
        "graft_funnel", "update")
      .groupBy("user_id").agg(max("stage").as("stage"))
    val counts = stages.zipWithIndex.map { case (st, i) =>
      count(when(col("stage") >= i + 1, 1)).as(s"n_$st")
    }
    last.agg(counts.head, counts.tail: _*)
  }

  /** Output row of the streaming SCD2: one CLOSED version interval. */
  final case class ScdClosed(user_id: Long, event_id: Long,
                             event_type: String, valid_from_us: Long,
                             valid_to_us: Long)

  /** T13: SCD Type 2 ([[graft.ops.Cdc.scd2History]]) incrementalized as a
    * keyed state machine — `flatMapGroupsWithState` holding exactly the
    * OPEN version per key (valid_from µs, event_id, event_type). Each
    * arriving change CLOSES the key's previous version — emitted
    * immediately, append mode — and opens its own, which lives on in
    * state rather than output. State is O(keys); emitted rows are
    * bit-identical to the batch assembly's closed intervals (the batch
    * `is_current` rows are precisely what the stream still holds open),
    * so the same lead()-based SQL oracle grades both, filtered to
    * `valid_to IS NOT NULL`. Same event-time-ordered-batches contract as
    * [[streamingAsOfAttribution]]. */
  def streamingScd2(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val closed = eventsByUser(eventStream(spark, dir))
      .flatMapGroupsWithState[(Long, Long, String), ScdClosed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, String)]) =>
          val sorted = evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[ScdClosed]()
          var cur = state.getOption
          sorted.foreach { e =>
            val m = tsMicros(e.ts)
            cur.foreach { case (from, id, tpe) =>
              out += ScdClosed(user, id, tpe, from, m)
            }
            cur = Some((m, e.event_id, e.event_type))
          }
          cur.foreach(state.update)
          out.iterator
      }
    drainToTable()(closed.toDF(), "graft_scd2", "append")
  }

  /** A closed session emitted by [[streamingTimeoutSessions]]. */
  final case class ClosedSession(user_id: Long, start_us: Long,
                                 end_us: Long, n_events: Long)

  /** T15: sessionization with TIMER-based close — the streaming API
    * surface none of the other ops exercise (`EventTimeTimeout`): a
    * session closes either in-batch, when the next event's gap exceeds
    * `gapSec` (µs arithmetic, matching the batch sessionizer), or by
    * TIMEOUT, when the event-time watermark passes the open session's
    * last event + gap — Spark fires the group's callback with
    * `hasTimedOut` in the no-data batch after the watermark advances.
    * State is one open session per key, removed on timeout; emitted rows
    * are append-mode closed sessions. The oracle replays the same
    * sessions in SQL and applies the exec's exact fire condition
    * (timeout MS strictly below watermark MS) to each user's tail
    * session — sessions still within the gap of the stream's end stay
    * open in state, exactly as a live pipeline would leave them. */
  def streamingTimeoutSessions(spark: SparkSession, dir: String,
                               gapSec: Long = 1800L): DataFrame =
      withShufflePartitions(spark, Some(8)) {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapUs = gapSec * 1000000L
    val closed = eventsByUser(eventStream(spark, dir)
        .withWatermark("ts", "0 seconds"))
      .flatMapGroupsWithState[OpenSess, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev],
         state: org.apache.spark.sql.streaming.GroupState[OpenSess]) =>
          if (state.hasTimedOut) {
            val c = state.get
            state.remove()
            Iterator.single(c.close(user))
          } else {
            val (closed, open) = foldSessions(user, evs, state.getOption, gapUs)
            val trailing = open.flatMap { c =>
              // event-time timers are millisecond-epoch
              val tMs = Math.floorDiv(c.last_us + gapUs, 1000L)
              val wmMs = state.getCurrentWatermarkMs()
              if (tMs < wmMs) {
                // multi-batch arrival: the watermark has already passed
                // this session's close point (possible whenever a key's
                // rows span batches). Arming the timer would
                // throw (timers must not trail the watermark), so apply
                // the engine's own fire rule (timer strictly below
                // watermark) in-batch: close now — same emitted set,
                // one batch earlier than the timer would have fired.
                // CLEAR any carried state: the old timer auto-clears (a
                // timeout not re-armed during a data invocation is
                // removed by the engine), but leftover STATE would
                // poison the key's next arrival — the gap check against
                // the stale `last` re-closes and re-emits the old
                // prefix session, a duplicate the oracle rejects
                // (reproduced by the A/B'd regression spec)
                if (state.exists) state.remove()
                Some(c.close(user))
              } else {
                state.update(c)
                state.setTimeoutTimestamp(tMs)
                None
              }
            }
            (closed ++ trailing).iterator
          }
      }
    drainToTable()(closed.toDF(), "graft_t15", "append")
  }

  /** The open session t15 and t30 hold per user. */
  private[streaming] case class OpenSess(start_us: Long, last_us: Long,
                                         n: Long) {
    def close(user: Long): ClosedSession =
      ClosedSession(user, start_us, last_us, n)
  }

  /** The session-close fold of t15 and t30: a user's batch rows, in
    * (µs, event_id) order, extend the `open` session; a gap of more than
    * `gapUs` closes it and opens the next. Returns the sessions closed
    * in-batch and the one left open. */
  private def foldSessions(user: Long, evs: Iterator[Ev],
                           open: Option[OpenSess], gapUs: Long)
      : (Seq[ClosedSession], Option[OpenSess]) = {
    val closed = scala.collection.mutable.ArrayBuffer[ClosedSession]()
    var cur = open
    evs.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
      val m = tsMicros(e.ts)
      cur = cur match {
        case Some(c) if m - c.last_us > gapUs =>
          closed += c.close(user)
          Some(OpenSess(m, m, 1L))
        case Some(c) => Some(c.copy(last_us = m, n = c.n + 1L))
        case None => Some(OpenSess(m, m, 1L))
      }
    }
    (closed.toSeq, cur)
  }

  /** The t30 processor: [[streamingTimeoutSessions]]'s keyed state
    * machine re-expressed on Spark 4's `transformWithState` TIMER
    * surface — `registerTimer`/`deleteTimer` on the handle plus the
    * `handleExpiredTimer` callback (TimeMode.EventTime), the successor
    * API of `GroupStateTimeout.EventTimeTimeout`. Each batch folds the
    * key's rows in event-time order, closing sessions in-batch on the
    * gap; the surviving open session re-arms ONE timer at
    * floor((last + gap) / 1000) ms — the previous timer is explicitly
    * deleted first (the old API replaced it implicitly; TWS timers are
    * a SET, so an undeleted stale timer would fire a ghost close).
    * Timer fire = the engine's own watermark pass, emitting the open
    * session and clearing state. */
  private class TimerSessionsProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, ClosedSession] {
    @transient private var sess:
        org.apache.spark.sql.streaming.ValueState[OpenSess] = _
    private def timerMs(lastUs: Long): Long =
      Math.floorDiv(lastUs + gapUs, 1000L)
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[OpenSess]("sess",
        org.apache.spark.sql.Encoders.product[OpenSess],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ClosedSession] = {
      val open = if (sess.exists()) Some(sess.get()) else None
      val prevTimer = open.map(c => timerMs(c.last_us))
      val (closed, cur) = foldSessions(user, rows, open, gapUs)
      cur.foreach { c =>
        sess.update(c)
        prevTimer.filter(_ != timerMs(c.last_us))
          .foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerMs(c.last_us))
      }
      closed.iterator
    }
    override def handleExpiredTimer(user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ClosedSession] =
      if (sess.exists()) {
        val c = sess.get()
        sess.clear()
        Iterator.single(c.close(user))
      } else Iterator.empty
  }

  /** T30: timer-closed sessionization on **`transformWithState`
    * TIMERS** — the one TWS surface t26/t28 don't exercise (they use
    * state cells only): `registerTimer`/`deleteTimer`/
    * `handleExpiredTimer` under `TimeMode.EventTime`, the successor of
    * t15's `GroupStateTimeout.EventTimeTimeout`. Same harness shape and
    * the SAME ORACLE as [[streamingTimeoutSessions]] — a hash match
    * grades that the two timer APIs implement identical close
    * semantics (in-batch gap close + watermark-fired timeout close,
    * open tails held in state), which is exactly the migration
    * contract a deployment moving t15-era code onto TWS relies on.
    * RocksDB provider conf-scoped as in [[transformWithStateTotals]]
    * (TWS refuses the HDFS-heap provider by design).
    *
    * Scale note (measured, `bench_scaling_r14_stream.json`): per-ROW
    * cost is sub-linear (0.37 one-batch), but each micro-batch pays a
    * fixed RocksDB commit+changelog round per state partition, so the
    * per-ARRIVAL axis reads ~1.35 when every arrival is its own
    * trigger. That axis is the TRIGGER INTERVAL — a deployment knob,
    * not a plan property: at 100 TB you size `Trigger.ProcessingTime`
    * so each batch amortizes its commit round over many arrivals
    * (the `maxFilesPerTrigger`/trigger-interval pairing), which is the
    * one-batch regime the 0.37 reading measures. */
  def twsTimerSessions(spark: SparkSession, dir: String,
                       gapSec: Long = 1800L): DataFrame =
    withRocksDb(spark) {
      withShufflePartitions(spark, Some(4)) {
        import spark.implicits._
        val closed = eventsByUser(eventStream(spark, dir)
            .withWatermark("ts", "0 seconds"))
          .transformWithState(new TimerSessionsProcessor(gapSec * 1000000L),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
        drainToTable()(closed.toDF(), "graft_t30", "append")
      }
    }

  /** T39: the **state data source over TWS state** — t27 reads the
    * legacy dedup operator's state back out of a checkpoint; this seat
    * does the same for the `transformWithState` format (column
    * families, state schema v2, `stateVarName` addressing): run the
    * SHARED t26 totals run ([[twsTotalsRun]]) to completion, then audit
    * the "totals" ValueState cell of its checkpoint as a batch frame. The audited (user, n, cents) rows must equal
    * the batch GROUP BY — t26's oracle verbatim — which certifies both
    * directions: the processor left exactly the right state behind,
    * and the reader decodes the new format exactly. */
  def twsStateSourceAudit(spark: SparkSession, dir: String): DataFrame = {
    totalsCell(spark, twsTotalsRun(spark, dir)._2).orderBy("user_id")
  }

  /** The t32 processor: per-user per-event-type running (n, cents) in a
    * **MapState** cell — the keyed-map state layout (one state-store row
    * per map ENTRY under RocksDB, so a user's map grows past any single
    * row's value size and individual entries update without rewriting
    * the whole map — the reason MapState exists vs a ValueState holding
    * a Scala Map). Update-mode emission per touched (user, type); `n`
    * is strictly increasing per key pair, so the graded frame's
    * max-struct selection is deterministic (the t26 discipline). */
  private class PerTypeTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, Long), (Long, String, Long, Long)] {
    @transient private var totals:
        org.apache.spark.sql.streaming.MapState[String, (Long, Long)] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getMapState[String, (Long, Long)]("totals",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet[String]()
      rows.foreach { case (_, tpe, cents) =>
        val (n, c) = if (totals.containsKey(tpe)) totals.getValue(tpe)
                     else (0L, 0L)
        totals.updateValue(tpe, (n + 1, c + cents))
        touched += tpe
      }
      // materialize the emissions EAGERLY: a lazy iterator here would
      // read MapState after handleInputRows returns, which only works
      // because the current exec wraps the result with an implicit-key
      // scope — an internal detail, not an API guarantee
      touched.toSeq.map { tpe =>
        val (n, c) = totals.getValue(tpe)
        (user, tpe, n, c)
      }.iterator
    }
  }

  /** T32: per-(user, event_type) running totals on a **TWS `MapState`**
    * cell — with t26 (ValueState), t28 (state-schema evolution), t30
    * (timers) and t33 (ListState) this completes the
    * `transformWithState` surface. Graded like t26: update-mode emits
    * carry a strictly-increasing `n` per (user, type), the final frame
    * keeps the last emit per pair, and the batch GROUP BY is the
    * oracle. */
  def twsMapStateTotals(spark: SparkSession, dir: String): DataFrame = {
    val snap = withRocksDb(spark) {
      streamTable(spark, eventStream(spark, dir), "update", Some(4)) { df =>
        val s = df.sparkSession
        import s.implicits._
        df.select(col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .as[(Long, String, Long)]
          .groupByKey(_._1)
          .transformWithState(new PerTypeTotalsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF("user_id", "event_type", "n_events", "total_cents")
      }
    }
    lastEmit(snap, Seq("user_id", "event_type"), "n_events", "total_cents")
      .orderBy("user_id", "event_type")
  }

  /** The t33 processor: per-user LAST-`k` event buffer in a **ListState**
    * cell — the bounded recent-activity window (fraud/abuse features,
    * "last N actions" serving) that a ValueState-of-Seq would rewrite
    * wholesale every batch; ListState appends incrementally and is the
    * layout RocksDB stores as one row per element. Each batch appends
    * the key's new (event-time µs, event_id) pairs, trims the buffer to
    * the `k` latest by (us, id) — `put` rewrites only when the buffer
    * actually overflowed — and emits (user, n_seen, csv of the ids,
    * latest first). `n_seen` is strictly increasing per user, so the
    * last emit per user is selectable by max-struct (t26 discipline). */
  private class LastKEventsProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, String)] {
    @transient private var buf:
        org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var seen:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[(Long, Long)]("recent",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, String)] = {
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { case (_, us, id) =>
        buf.appendValue((us, id)); n += 1
      }
      seen.update(n)
      // toList: drain the ListState iterator eagerly inside the call
      // (same no-state-reads-after-return discipline as above)
      val all = buf.get().toList.sortBy { case (us, id) => (-us, -id) }
      if (all.length > k) buf.put(all.take(k).toArray)
      val latest = all.take(k)
      Iterator.single((user, n,
        latest.map(_._2).mkString(",")))
    }
  }

  /** The t33 pipeline over any event frame — shared with the
    * cross-batch spec, which drives it through MemoryStream batch
    * boundaries to pin the buffer CARRY and trim across batches. */
  private[graft] def twsLastKPipeline(k: Int)(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new LastKEventsProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_seen", "recent_ids")
  }

  /** T33: last-`k` events per user on a **TWS `ListState`** cell (see
    * [[LastKEventsProcessor]]). The oracle replays the same window in
    * SQL: per user, the total event count and the ids of the `k` latest
    * events by (event time, event_id), latest first. */
  def twsListStateLastK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val snap = withRocksDb(spark) {
      streamTable(spark, eventStream(spark, dir), "update", Some(4))(
        twsLastKPipeline(k))
    }
    lastEmit(snap, Seq("user_id"), "n_seen", "recent_ids").orderBy("user_id")
  }

  /** The t34 pipeline over any event frame: the [[TotalsProcessor]] fold
    * with its cell under a `ttl` — the state-retention knob that keeps
    * unbounded keyed state bounded (abandoned keys age out). TWS TTL is
    * PROCESSING-time based: an entry written by batch B expires `ttl`
    * after B's batch timestamp, and the read path never returns an
    * expired value. Shared with the cross-batch spec, which drives it
    * through MemoryStream batch boundaries to pin expiry (ttl ≪ batch
    * gap → per-batch re-count) and the control (ttl ≫ run length →
    * cumulative). */
  private[graft] def twsTtlPipeline(ttl: java.time.Duration)
                                   (df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    centsByUser(df)
      .transformWithState(
        new TotalsProcessor(org.apache.spark.sql.streaming.TTLConfig(ttl)),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n_events", "total_cents")
  }

  /** T34: state TTL on a TWS ValueState cell, graded by entries
    * ACTUALLY expiring — the remaining `transformWithState` surface
    * after t26 (ValueState) / t28 (schema evolution) / t30 (timers) /
    * t32 (MapState) / t33 (ListState). Two staged arrivals (the shared
    * parity split) drain as two micro-batches; the odd half lands only
    * AFTER batch 0 is drained and a 2×ttl wall-clock sleep has passed,
    * so batch 1's processing time is PROVABLY past every batch-0
    * cell's expiration — no race against however fast the fork-free
    * commit path makes consecutive batches. The odd half's counts thus
    * RE-START FROM ZERO, and the graded frame (the union of both
    * batches' update-mode emissions) matches the oracle — "per-user
    * totals over the even half UNION ALL per-user totals over the odd
    * half" — only if expiry really reset the fold (un-expired state
    * would emit cumulative totals for every user in both halves). The
    * spec additionally pins the control: a never-expiring TTL over the
    * same two batches yields cumulative totals. */
  def twsTtlTotals(spark: SparkSession, dir: String,
                   ttl: java.time.Duration = java.time.Duration.ofMillis(50)): DataFrame = {
    // Only the two ENDS of the ttl range are well-defined under the
    // harness's capped inter-batch sleep (min(2*ttl, 1000 ms)): a short
    // ttl (≤500 ms → sleep ≥ 2×ttl, provably expired before batch 1)
    // or a deliberately unexpirable one (≥1 h ≫ any harness run,
    // provably retained). A mid-range ttl is neither — its output, and
    // hence oracle parity, would race the wall clock; reject it rather
    // than let a nondeterministic frame reach the correctness gate.
    require(ttl.toMillis <= 500L || ttl.toHours >= 1L,
      s"ttl $ttl is in the raced mid-range: use <=500 ms (provably " +
        "expired) or >=1 h (provably retained)")
    withRocksDb(spark) {
      perfScope(spark, Some(4)) {
        val t = new Topic("graft_t34_")
        val Seq(even, odd) = parityStage(spark, dir)
        drainToTable(t.group(even), () => {
          // capped so a caller-supplied long ttl (deliberately
          // unexpirable) cannot stall the harness
          Thread.sleep(math.min(2 * ttl.toMillis, 1000L))
          t.land(odd)
        })(twsTtlPipeline(ttl)(t.read(spark, paced = true)),
          "graft_t34", "update", Some(t.path("ckpt")))
      }
    }
  }

  /** The t37 prior-deployment warm table (departed users' complete
    * history + active users' even half, folded to per-user totals),
    * staged once per (session, fixture) — see [[twsInitialStateTotals]]. */
  private val t37WarmMemo = SessionMemo[String, DataFrame]("stream_t37_warm")
  private def t37WarmTable(spark: SparkSession, dir: String): DataFrame =
    t37WarmMemo(spark, dir) {
      val warmPath = graft.TmpDirs.create("graft_t37_warm_")
        .resolve("warm").toString
      graft.Tables.events(spark, dir)
        .filter(pmod(col("user_id"), lit(3)) === 0 ||
          pmod(col("event_id"), lit(2)) === 0)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
        .write.parquet(warmPath)
      spark.read.parquet(warmPath)
    }

  /** T37: `transformWithState` with **INITIAL STATE** — the warm-start
    * migration a live deployment actually performs: keyed state
    * bootstraps from a BATCH frame (the prior system's materialized
    * totals), the stream folds only the NEW traffic, and the assembled
    * serving view must equal the full-table GROUP BY — t26's oracle
    * verbatim, so a hash match proves the handoff lost nothing and
    * re-read nothing. The split makes BOTH serving paths non-vacuous
    * at every SF by construction: users with `user_id % 3 = 0` are
    * DEPARTED — their complete history lives in the warm store and the
    * stream filter drops their arrivals (they surface from the
    * warm-start side, never emitted); every other user's even half is
    * warm and their odd half streams, so their fold STARTS from the
    * seeded cell. */
  def twsInitialStateTotals(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      perfScope(spark, Some(4)) {
        import spark.implicits._
        val t = new Topic("graft_t37_")
        // the prior deployment's state: departed users complete, active
        // users up to the handoff point (their even half). MATERIALIZED
        // once to scratch — exactly how a deployment stages the prior
        // system's table — because it is read twice (the initial-state
        // seed and the warm-only side of the serving view); deriving it
        // lazily would re-scan and re-aggregate the events table.
        // Fixture-derived and immutable, so memoized per (session, dir)
        // like the other staged layouts.
        val warm = t37WarmTable(spark, dir)
        val init = warm.as[(Long, Long, Long)]
          .groupByKey(_._1).mapValues(t => (t._2, t._3))
        // the stream folds only the active users' odd half
        val emitted = lastEmit(drainToTable(
            t.group(parityStage(spark, dir)(1)))(
          centsByUser(t.read(spark, paced = true)
            .filter(pmod(col("user_id"), lit(3)) =!= 0))
          .transformWithState(new TotalsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update(),
            init)
          .toDF("user_id", "n_events", "total_cents"),
          "graft_t37", "update", Some(t.path("ckpt"))),
          Seq("user_id"), "n_events", "total_cents")
        // The departed-user serving side reads the seeded cells BACK OUT
        // of the checkpointed state (the t39 statestore mechanism), NOT
        // the warm parquet verbatim — a silently dropped
        // handleInitialState seed for a never-streamed key would
        // otherwise be invisible to both the oracle and the spec. The
        // warm frame only names WHICH keys are warm-only; their (n,
        // cents) payload must come from what the processor actually
        // persisted.
        val seeded = totalsCell(spark, t.path("ckpt"))
        emitted.unionByName(
            seeded.join(emitted.select("user_id"), Seq("user_id"), "left_anti")
              .join(warm.select("user_id"), Seq("user_id"), "left_semi"))
          .orderBy("user_id")
      }
    }

  /** T31: **`Trigger.AvailableNow`** — the production drain trigger: the
    * query plans ALL currently-available input up front, processes it in
    * admission-controlled micro-batches (`maxFilesPerTrigger` still
    * paces), commits offsets per batch, then STOPS ITSELF. This is how a
    * deployment runs "catch up on the backlog, then exit" with the same
    * checkpoint its continuous form uses — the other harnesses drive
    * completion from the outside with `processAllAvailable`; here
    * termination is the ENGINE's own decision, graded by the query
    * reaching the full cumulative tally before it stops. */
  def availableNowTally(spark: SparkSession, dir: String): DataFrame =
    perfScope(spark, Some(4)) {
      val table = freshName("graft_t31")
      val q = eventStream(spark, dir)
        .groupBy("event_type")
        .agg(round(sum("value"), 2).as("total_value"),
             count(lit(1)).as("n_events"))
        .writeStream.format("memory").queryName(table)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // bounded await: self-termination is the graded behavior, but an
      // unbounded block here would hang the whole Verify run if the
      // drain ever wedged — after the timeout the stop() turns a hung
      // seat into one red oracle instead of a dead round
      try {
        val done = q.awaitTermination(300000L)
        if (!done) System.err.println(
          "[t31] AvailableNow did not self-terminate within 300 s")
      } finally q.stop()
      spark.table(table)
    }

  /** T14: streaming decontamination feed — the quarantine side of
    * [[graft.ext.DedupOps.decontaminate]] run as documents LAND: each
    * micro-batch's docs explode into 13-token windows, semi-join the
    * BROADCAST eval-set window table (stream-static, stateless per
    * batch — eval sets are benchmarks, not corpora), and the per-language
    * contaminated-doc counts accumulate in complete mode (the only
    * stateful op, O(langs × docs-hit) keys in the countDistinct). Window
    * construction is the exact expression the batch op uses
    * ([[graft.ext.DedupOps.tokenWindows]]), so batch/stream verdict
    * parity is by construction and the batch SQL oracle grades the
    * streaming execution. */
  def streamingDecontaminationFeed(spark: SparkSession, dir: String,
                                   w: Int = 13, evalMod: Int = 20): DataFrame =
      perfScope(spark, Some(4)) {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // The static side of a stream-static join is RE-EVALUATED every
    // micro-batch; the eval-window build (tokenize + explode + distinct)
    // is the expensive half of this query, so persist the small distinct
    // window set once — each batch then broadcasts the cached rows
    // instead of re-running the explode. Unpersisted after the run.
    val evalWins = graft.ext.DedupOps.tokenWindows(
        docs.filter(pmod(col("doc_id"), lit(evalMod)) === 0), w)
      .select("win_h").distinct().persist()
    val stream = docStream(spark, dir)
      .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
    // countDistinct is not a streaming aggregate; the distinct-doc fold
    // is the stateful dropDuplicates (t5's machinery, keyed on doc_id —
    // O(contaminated docs) state), then a plain count per language
    try drainToTable()(
        graft.ext.DedupOps.tokenWindows(stream, w, keep = Seq("lang"))
          .join(broadcast(evalWins), Seq("win_h"), "left_semi")
          .select("doc_id", "lang")
          .dropDuplicates("doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_contaminated")),
        "graft_t14", "complete")
      finally evalWins.unpersist()
  }

  /** The documents table as a file-stream source ([[fixtureTopic]]). */
  private def docStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .option("maxFilesPerTrigger", 1)
      .parquet(fixtureTopic(spark, dir, "documents"))

  /** T24: stateful streaming dedup keyed on a NATIVE expression — unicode
    * canonicalization meets streaming state. Every document arrives as
    * TWO wire variants (composed and decomposed spellings of an appended
    * token — byte-different, canonically equal), and `dropDuplicates` on
    * the (lang, `nfc_normalize`d text) key collapses each pair in state —
    * and collapses the corpus's PLANTED exact-duplicate texts with them —
    * so per-lang survivors equal the per-lang DISTINCT-text counts the
    * oracle replays (an engine skipping normalization doubles every
    * count). Lang rides the key so a text shared across langs keeps one
    * deterministic survivor per lang. State is one entry per distinct
    * normalized doc — the dedup key the 100 TB ingest gate would carry. */
  def streamingNfcDedup(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    drainToTable()(docStream(spark, dir)
      .withColumn("variant",
        explode(array(lit("caf\u00e9"), lit("cafe\u0301"))))
      .withColumn("norm_text",
        call("nfc_normalize", concat(col("text"), lit(" "), col("variant"))))
      .dropDuplicates("lang", "norm_text")
      .groupBy("lang").agg(count(lit(1)).as("n_unique")),
      "graft_t24", "complete").orderBy("lang")
  }

  /** T12: streaming corpus curation — the LLM tier's scan-side gates
    * (language-ID + quality, [[graft.ext.TextOps.isEnglishPredicate]] /
    * [[graft.ext.TextOps.qualityOkPredicate]]) applied to a document
    * STREAM, with per-language survivor counts maintained in complete
    * mode. The production shape of "filter the crawl as it lands" —
    * the gates are pure scan predicates, so they pipeline inside each
    * micro-batch with zero extra state; the only stateful op is the
    * small keyed count. Batch/stream parity is exact (same predicate
    * expressions), which is what lets the batch SQL oracle grade the
    * streaming execution. */
  def streamingQualityGate(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(4)) {
    drainToTable()(docStream(spark, dir)
      .filter(graft.ext.TextOps.isEnglishPredicate &&
              graft.ext.TextOps.qualityOkPredicate)
      .groupBy("lang").agg(count(lit(1)).as("n_kept")),
      "graft_t12", "complete").orderBy("lang")
  }

  /** T17: dead-letter routing — the streaming form of the reference's
    * malformed-record concern (`/root/reference/main.py:86,116` returns
    * error strings downstream would ingest as records; P7 is the batch
    * filter). Instead of silently DROPPING bad rows, each micro-batch
    * splits: rows whose `props.k` fails to parse or matches the poison
    * predicate (`k % 97 == 13`, deterministic) land in a quarantine
    * parquet sink for replay/debugging; the rest flow to the main sink.
    * Both legs land in ONE partitioned append per micro-batch (the
    * quarantine is the `__dead=true` partition directory — independently
    * readable/replayable, exactly what a dead-letter location is for),
    * so the batch is scanned once with no caching and nothing is lost:
    * per type, `n_valid + n_dead` re-adds to the full count — the
    * conservation the oracle recomputes. A crash mid-append replays the
    * batch at-least-once on restart; the exactly-once treatments live in
    * [[fileSinkExactlyOnce]] (sink transaction log) and
    * `JdbcIO.upsertTotals` (idempotent keyed upsert) and compose with
    * this split unchanged. */
  def deadLetterSplit(spark: SparkSession, dir: String): DataFrame =
      perfScope(spark, Some(8)) {
    val outDir = graft.TmpDirs.create("graft_t17_").resolve("split").toString
    drain()(eventStream(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.withColumn("__dead", poisoned)
          .write.mode("append").partitionBy("__dead").parquet(outDir)
        ()
      }
      .start())
    spark.read.parquet(outDir)
      // Hive-partition values have no boolean inference — the flag
      // reads back as the string "true"/"false"
      .withColumn("__dead", col("__dead").cast("boolean"))
      .groupBy("event_type")
      .agg(count(when(!col("__dead"), 1)).as("n_valid"),
           count(when(col("__dead"), 1)).as("n_dead"))
  }

  /** The dead-letter rule of t17 and t17b: `props.k` fails to parse, or
    * matches the poison predicate (`k % 97 == 13`, deterministic). */
  private def poisoned: org.apache.spark.sql.Column = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    k.isNull || pmod(k, lit(97)) === 13
  }

  /** T17b: dead-letter triage under GENUINE KEY SKEW — the fixture's
    * `props.k` poison predicate is uniform (~1% spread evenly), but the
    * 100 TB reality dead-letter queues exist for is one flooding
    * producer: most quarantined rows share one key. The skew is injected
    * deterministically (the [[graft.ops.Aggregates.heavyHittersApprox]]
    * inject-then-detect pattern): rows with `event_id % 100 < 90` —
    * ~90% of traffic — map to skew_key 1, the rest keep their user_id.
    * The split quarantines the same NULL-or-`pmod(k,97)=13` rows as
    * [[deadLetterSplit]], keyed; the triage question "which keys flood
    * the queue" is then a groupBy on a key where one value holds ~90%
    * of the rows — answered with the two-level SALTED aggregation
    * (partial count per (key, event_id-salt), then final sum) so the
    * hot key folds across `salts` tasks instead of straggling one.
    * Counts are exact integers; the oracle replays the key derivation,
    * the poison predicate, and the top-k. */
  def deadLetterTriageSkewed(spark: SparkSession, dir: String,
                             salts: Int = 16, topK: Int = 10): DataFrame =
      perfScope(spark, Some(8)) {
    val outRoot = graft.TmpDirs.create("graft_t17b_").toString
    val deadDir = s"$outRoot/dead"
    drain()(eventStream(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch
          .withColumn("skew_key",
            when(pmod(col("event_id"), lit(100)) < 90, lit(1L))
              .otherwise(col("user_id")))
          .filter(poisoned)
          .select("skew_key", "event_id")
          .write.mode("append").parquet(deadDir)
        ()
      }
      .start())
    spark.read.parquet(deadDir)
      .groupBy(col("skew_key"),
        pmod(col("event_id"), lit(salts)).as("__salt"))
      .agg(count(lit(1)).as("__pc"))
      .groupBy("skew_key")
      .agg(sum("__pc").as("n_dead"))
      .orderBy(desc("n_dead"), asc("skew_key"))
      .limit(topK)
  }

  /** T18: incremental SKETCH maintenance — the streaming materialized
    * view in its mergeable-sketch form (the exact-aggregate form is
    * [[graft.ops.Aggregates.incrementalMerge]]'s seat). Each micro-batch
    * folds to per-type HLL partials and `hll_union_agg`s them with the
    * PRIOR snapshot — a KB-sized sketch table — then writes the next
    * versioned snapshot. History is never re-scanned: refresh cost is
    * O(batch) + O(|types|·sketch), which is what makes "distinct users,
    * updated continuously" affordable at 100 TB. Graded like
    * `sketch_hll_merge`: exact distinct (recomputed from raw) + an honest
    * within-5% verdict from the final snapshot's estimates. */
  def streamingSketchMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val est = versionedSnapshot(spark, dir, "t18")(
        _.groupBy("event_type").agg(expr("hll_sketch_agg(user_id)").as("sk")),
        _.groupBy("event_type").agg(expr("hll_union_agg(sk)").as("sk")))
      .select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est"))
    graft.Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users_exact"))
      .join(est, Seq("event_type"))
      .select(col("event_type"), col("n_users_exact"),
        (abs(col("est") - col("n_users_exact")) <=
          col("n_users_exact") * 0.05).as("stream_merged_within_5pct"))
  }

  /** T19: incremental TIME-SERIES maintenance — the streaming OHLC
    * materialized view, the bar-table sibling of [[streamingSketchMaintenance]]
    * (sketches there, time-series here; batch fold proof in
    * [[graft.ops.EventAnalytics.ohlcRollup]]). Each micro-batch folds its
    * ticks to per-(type, 15-min bar) OHLC partials and merges them with
    * the PRIOR snapshot by pure min/max/sum — open and close travel as
    * `min/max(struct(ts, value))` so a bar split across micro-batches
    * merges exactly (the struct's leading event-time field decides, no
    * first/last order sensitivity), and volume is integer cents so the
    * re-sum is exact. The snapshot is bar-count sized; history is never
    * re-scanned — refresh cost is O(batch) + O(|bars touched|), which is
    * what makes a continuously-updated 100 TB tick store affordable. The
    * final snapshot folds to hour bars exactly like `ohlcRollup`, and the
    * oracle computes those hour bars direct from raw ticks — equality
    * proves the incremental path loses nothing. */
  def streamingOhlcMaintenance(spark: SparkSession, dir: String,
                               fineSeconds: Int = 900): DataFrame =
    versionedSnapshot(spark, dir, "t19")(
        _.select(col("event_type"), col("ts"), col("value"),
            round(col("value") * 100, 0).cast("long").as("cents"))
          .groupBy(col("event_type"),
            window(col("ts"), s"$fineSeconds seconds")
              .getField("start").as("fbar"))
          .agg(
            min(struct(col("ts"), col("value"))).as("open_s"),
            max("value").as("high"),
            min("value").as("low"),
            max(struct(col("ts"), col("value"))).as("close_s"),
            count(lit(1)).as("n"),
            sum("cents").as("vol_cents")),
        _.groupBy("event_type", "fbar")
          .agg(min("open_s").as("open_s"), max("high").as("high"),
            min("low").as("low"), max("close_s").as("close_s"),
            sum("n").as("n"), sum("vol_cents").as("vol_cents")))
      .groupBy(col("event_type"), date_trunc("hour", col("fbar")).as("bar"))
      .agg(
        round(min_by(col("open_s").getField("value"), col("fbar")), 2)
          .as("open"),
        round(max("high"), 2).as("high"),
        round(min("low"), 2).as("low"),
        round(max_by(col("close_s").getField("value"), col("fbar")), 2)
          .as("close"),
        sum("n").as("n_events"),
        sum("vol_cents").as("vol_cents"))
      .select(col("event_type"),
        date_format(col("bar"), "yyyy-MM-dd HH:mm").as("bar_start"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("vol_cents"))

  /** The versioned snapshot fold of t18 and t19: each micro-batch of the
    * events stream folds to `partial(batch)`, which is unioned with the
    * snapshot at `v=<latest>`, merged by `merge` and written to
    * `v=<batch id>` — history is never re-scanned. Returns the last
    * snapshot. */
  private def versionedSnapshot(spark: SparkSession, dir: String, tag: String)
                               (partial: DataFrame => DataFrame,
                                merge: DataFrame => DataFrame): DataFrame = {
    val root = graft.TmpDirs.create(s"graft_${tag}_").toString
    @volatile var latest = -1L
    drain()(eventStream(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val part = partial(batch)
        val merged =
          if (latest >= 0)
            merge(spark.read.parquet(s"$root/v=$latest").union(part))
          else part
        merged.write.mode("overwrite").parquet(s"$root/v=$id")
        latest = id; ()
      }
      .start())
    spark.read.parquet(s"$root/v=$latest")
  }

  /** S2+S5+S8: sink composition with write-then-emit ordering — the
    * reference produces the enriched vote to Kafka only AFTER the DB insert
    * succeeds (`/root/reference/voting.py:109-134`, rationale `:120-126`).
    * Here: foreachBatch persists the batch to the durable store (parquet ≈
    * the DB write) and only then emits the JSON wire form (≈ the Kafka
    * produce); the returned frame is the re-parsed emitted stream. */
  def writeThenEmit(spark: SparkSession, dir: String): DataFrame = {
    val outRoot = graft.TmpDirs.create("graft_s8_").toString
    val stored = s"$outRoot/stored"
    val emitted = s"$outRoot/emitted"
    drain()(eventStream(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        // 1) durable write (the "DB insert", voting.py:112-116)
        b.write.mode("append").parquet(stored)
        // 2) only-then emit the Kafka wire shape: key + JSON value
        //    (voting.py:128-134; key=voter_id main.py:216)
        b.select(col("user_id").cast("string").as("key"),
                 to_json(struct(col("event_id"), col("event_type"),
                                col("value"))).as("value"))
          .write.mode("append").parquet(emitted)
        b.unpersist(); ()
      }
      .start())
    // re-parse the emitted wire records (P1+P2+P3 on our own sink output)
    spark.read.parquet(emitted)
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, value DOUBLE")).as("data"))
      .select("data.*")
  }

  /** S10: exactly-once EMIT through the wire seam under injected REPLAY —
    * the producer-side durability s8 leaves at-least-once
    * (`/root/reference/voting.py:120-126` commits AFTER producing, so a
    * crash between produce and commit re-emits the batch; the reference's
    * downstream sink at `spark-streaming.py:69` would ingest the
    * duplicates). This is the Kafka transactional-producer shape WITHOUT
    * the broker: each epoch's per-type deltas are emitted as Kafka-shaped
    * binary frames (key = event_type bytes, value = JSON bytes) carrying
    * their EPOCH id, and every epoch is delivered TWICE — the at-least-
    * once failure is injected, not hypothetical. The downstream consumer
    * ([[consumeWireEmits]]) does what the broker's sequence-number dedup
    * does for a transactional producer: drop redelivered (epoch, key)
    * frames, then fold the per-epoch deltas. The final tally must equal
    * the batch truth over the full source — which is exactly what the
    * oracle recomputes; an unguarded consumer double-counts every row.
    *
    * Scale shape: frames per epoch are |types|-sized (the per-batch fold
    * is map-side combined), the dedup key space is epochs×types, and
    * nothing here is driver-sized. Two staged source files make two real
    * epochs, so the dedup is exercised across epoch boundaries, not
    * within one. */
  def wireEmitExactlyOnce(spark: SparkSession, dir: String): DataFrame =
    consumeWireEmits(spark, wireEmitRun(spark, dir))

  /** The producer half of [[wireEmitExactlyOnce]]: run the stream, emit
    * every epoch's frames twice, return the emitted-topic dir. Exposed so
    * the replay spec can assert the raw frame stream REALLY carries every
    * epoch twice (and that a dedup-less consumer would double-count). */
  private[graft] def wireEmitRun(spark: SparkSession, dir: String): String =
      perfScope(spark, Some(8)) {
    val t = new Topic("graft_s10_")
    val emitted = t.path("emitted")
    drain(t.group(parityStage(spark, dir): _*))(t.read(spark, paced = true)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // one file per produce call (r18, guide §6): each epoch's frames
        // are a handful of KB-sized rows, but the aggregate inherits the
        // session's shuffle width, so every append was committing a
        // directory of tiny files — 4 produce calls × width files plus
        // their commit/list overhead on the consumer's read. coalesce(1)
        // keeps the retry shape (two separate append commits) intact.
        val frames = batch
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .select(col("event_type").cast("binary").as("key"),
            to_json(struct(col("event_type"), lit(epoch).as("epoch"),
                           col("n"), col("cents"))).cast("binary").as("value"))
          .coalesce(1)
          .persist()
        frames.write.mode("append").parquet(emitted)
        // injected producer retry: the SAME epoch's frames land again —
        // an idempotent consumer converges, a naive one double-counts
        frames.write.mode("append").parquet(emitted)
        frames.unpersist(); ()
      }
      .start())
    emitted
  }

  /** The consumer half of [[wireEmitExactlyOnce]]: decode the binary wire
    * frames (the P1+P2 chain on our own producer's output), drop
    * redelivered (epoch, key) frames — the broker-side sequence dedup a
    * transactional producer relies on — and fold the surviving per-epoch
    * deltas to totals. Exposed for the replay spec, which asserts the raw
    * frame stream really contains every epoch twice. */
  private[graft] def consumeWireEmits(spark: SparkSession,
                                      emitted: String): DataFrame =
    spark.read.parquet(emitted)
      .select(from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_type STRING, epoch BIGINT, n BIGINT, cents BIGINT")).as("data"))
      .select("data.*")
      .dropDuplicates("epoch", "event_type")
      .groupBy("event_type")
      .agg(sum("n").as("n_events"), sum("cents").as("cents"))
      .orderBy("event_type")
}
