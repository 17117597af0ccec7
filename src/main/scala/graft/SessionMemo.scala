package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap,
  CopyOnWriteArrayList, ExecutionException}

import org.apache.spark.sql.SparkSession

/** One memoized value per (session, call-site key) — the single facility
  * behind every session-scoped share on the board: staged topics,
  * checkpointed pair passes, layout dirs, trained models, resolved
  * tables. Each call site declares one typed handle,
  * {{{
  *   private val relMemo = SessionMemo[(String, String), DataFrame]("tables")
  *   relMemo(spark, (dir, name))(spark.read.parquet(path))
  * }}}
  * and every handle registers itself, so [[SessionMemo.clearAll]] is the
  * whole teardown — no per-module hook or hand-kept list to drift.
  *
  * Contract:
  *  - the key is the session OBJECT plus the site's key — never an
  *    identity hash, which can collide or outlive a stopped session.
  *    Plan-derived keys keep their canonicalized plan or semanticHash;
  *  - concurrent first callers of one key get exactly ONE build, and the
  *    build runs outside any map lock: the first caller publishes a cell
  *    with `putIfAbsent`, losers wait on it. A build may call other
  *    memos (or this one, for another key); a build that re-enters its
  *    own key fails fast instead of deadlocking;
  *  - a build that throws is not cached — the next call retries;
  *  - `valid`, checked on a hit, rebuilds a stale value in place (a
  *    scratch dir deleted from under the memo, a rewritten table);
  *  - `release` runs on every value [[clear]] drops (e.g. unpersist);
  *  - a stopped session's entries are swept on a MISS, so the hit path
  *    stays one map lookup. */
final class SessionMemo[K, V] private (val name: String, release: V => Unit) {
  import SessionMemo.Cell

  private val cells = new ConcurrentHashMap[(SparkSession, K), Cell[V]]()

  def apply(spark: SparkSession, key: K, valid: V => Boolean = (_: V) => true)
           (build: => V): V = {
    val k = (spark, key)
    val hit = cells.get(k)
    if (hit == null) miss(k, build)
    else {
      val v = hit.await(this, key)
      if (valid(v)) v
      else {
        val fresh = new Cell[V]
        if (cells.replace(k, hit, fresh)) run(k, fresh, build)
        else apply(spark, key, valid)(build)
      }
    }
  }

  private def miss(k: (SparkSession, K), build: => V): V = {
    dropStoppedSessions()
    val mine = new Cell[V]
    val prev = cells.putIfAbsent(k, mine)
    if (prev == null) run(k, mine, build) else prev.await(this, k._2)
  }

  private def run(k: (SparkSession, K), cell: Cell[V], build: => V): V = {
    val v = try build catch { case e: Throwable =>
      cells.remove(k, cell)
      cell.result.completeExceptionally(e)
      throw e
    }
    cell.result.complete(v)
    v
  }

  private def dropStoppedSessions(): Unit = {
    val it = cells.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
  }

  /** Number of live entries, across sessions. */
  def size: Int = cells.size

  /** The built values, across sessions (spec hooks). */
  def values: Seq[V] = {
    import scala.jdk.CollectionConverters._
    cells.values.asScala.toSeq.flatMap(_.built)
  }

  /** Drop every entry, running `release` on each built value. */
  def clear(): Unit = {
    val it = cells.values.iterator()
    while (it.hasNext) {
      val c = it.next()
      it.remove()
      c.built.foreach(v => try release(v) catch { case _: Throwable => () })
    }
  }
}

object SessionMemo {
  private val registry = new CopyOnWriteArrayList[SessionMemo[_, _]]()

  def apply[K, V](name: String,
                  release: V => Unit = (_: V) => ()): SessionMemo[K, V] = {
    val m = new SessionMemo[K, V](name, release)
    registry.add(m)
    m
  }

  /** The `valid` check for memoized scratch paths: re-stage when the
    * directory has been cleaned from under the memo. */
  val dirExists: String => Boolean = p => new java.io.File(p).exists()

  /** Drop every registered memo — the one teardown every driver main
    * (and every cold repetition of a scaling tool) calls. */
  def clearAll(): Unit = registry.forEach(_.clear())

  private final class Cell[V] {
    val owner: Thread = Thread.currentThread()
    val result = new CompletableFuture[V]()

    def built: Option[V] =
      if (result.isDone && !result.isCompletedExceptionally)
        Some(result.join())
      else None

    def await(memo: SessionMemo[_, V], key: Any): V = {
      if (!result.isDone && owner == Thread.currentThread())
        throw new IllegalStateException(
          s"SessionMemo '${memo.name}': recursive build of key $key")
      try result.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }
}
