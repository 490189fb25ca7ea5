package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** The one owner of engine-created storage lifetime.
  *
  * Operators cache multi-consumer intermediates (shingle sets, signatures,
  * edge lists — load-bearing for performance, 3-8× measured) and
  * `localCheckpoint` iterative state. They never decide when that storage
  * is freed: they hand it to [[CacheScope.track]] / [[CacheScope.onRelease]],
  * which record it in the ambient scope, and the caller that owns the
  * action bounds the lifetime with [[CacheScope.scoped]] — the only public
  * API:
  *
  * {{{
  * CacheScope.scoped {
  *   SparkEntry.queries("dd_ppjoin")(spark, dir).collect()
  * } // every cache and checkpoint the query created is released here
  * }}}
  *
  * Ambient semantics:
  *   - the scope is thread-scoped (a `DynamicVariable`): plans built on
  *     other threads see their own ambient, so concurrent callers each
  *     wrap their own build-plus-action;
  *   - a thread started inside `scoped` inherits the scope — so a stream
  *     started inside the block records its `foreachBatch` caches there,
  *     and they are released with the block (stop the stream first);
  *   - outside any `scoped` block nothing is recorded: operators cache
  *     and nothing releases, exactly like a plain `.cache()`.
  *
  * `body` must CONSUME its DataFrames (run the action inside the block);
  * a frame escaping the block silently recomputes uncached, and one that
  * reads a released checkpoint fails loudly. Callers never clear the
  * whole session's cache: that drops caches a concurrent scope is still
  * reading, and it cannot free checkpoint blocks anyway.
  */
final class CacheScope private {

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val hooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Unpersist every tracked cache (non-blocking), run every release
    * hook, and forget both. */
  private def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    tracked.clear()
    hooks.foreach(f => f())
    hooks.clear()
  }
}

object CacheScope {

  private val ambient = new scala.util.DynamicVariable[Option[CacheScope]](None)

  /** Cache `ds` and record it in the ambient scope (if any) for release. */
  private[graft] def track[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    ambient.value.foreach(s => s.synchronized { s.tracked += ds })
    ds
  }

  /** Register a release action in the ambient scope (if any) for storage
    * `.cache()` cannot express — e.g. [[releaseCheckpoint]] for the
    * blocks behind a `localCheckpoint`. Unlike an unpersisted cache
    * (which silently recomputes), a released checkpoint cannot be
    * recomputed: using the result after release fails loudly. */
  private[graft] def onRelease(f: () => Unit): Unit =
    ambient.value.foreach(s => s.synchronized { s.hooks += f })

  /** Free the persisted RDD behind a `localCheckpoint`ed Dataset (its
    * analyzed plan is a `LogicalRDD` leaf over the checkpoint blocks).
    * Those blocks are invisible to `Dataset.unpersist` and to clearing
    * the session's cache; without an explicit release they live until
    * JVM garbage collection notices the RDD object, which on a large
    * heap can be never. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run `body` with a fresh ambient scope and release everything the
    * operators it invoked tracked in that scope when `body` finishes,
    * whether it returns or throws. */
  def scoped[A](body: => A): A = {
    val scope = new CacheScope
    try ambient.withValue(Some(scope))(body) finally scope.release()
  }
}
