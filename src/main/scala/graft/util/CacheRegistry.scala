package graft.util

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The driver's owner of persisted query state, with two lifetimes.
  *
  * '''Memo entries''' ([[memo]]) are the write-once/read-many state of a
  * session: the resource broadcast, the pipeline docs and the triples the
  * `kg_*` queries read. An entry is keyed by (session, key), because a
  * Dataset is bound to its session, and lasts until its session's
  * application ends; then one listener per SparkContext drops the
  * application's entries and unpersists their Datasets. There is no cap:
  * every driver of `SparkEntry` (Verify, Bench, BenchExtra, PlanAudit, the
  * test-scope subset and probe mains, and the specs' one shared session)
  * holds one session per JVM and reads at most two scale-factor dirs, so a
  * bound would never evict anything.
  *
  * '''Registered Datasets''' ([[register]]) are persists inside
  * lazily-returned plans. A function that returns a plan depending on an
  * intermediate persist cannot unpersist eagerly, and Spark's CacheManager
  * holds every `persist()` until an explicit `unpersist()` or session end
  * (ContextCleaner only reclaims RDD-level caches) — so such persists
  * register here and long-lived drivers (Bench / Verify) call
  * [[releaseAll]] once the returned plans have been materialized. One-shot
  * sessions can skip it: session shutdown drops the CacheManager entries.
  * A released plan that is re-used later recomputes; it does not fail.
  */
object CacheRegistry {

  private val live =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Dataset[_]]())

  private val memos = new ConcurrentHashMap[(SparkSession, Any), AnyRef]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkContext]()

  def register[T](ds: Dataset[T]): Dataset[T] = { live.add(ds); ds }

  def releaseAll(): Unit = {
    val snapshot = live.synchronized {
      val s = new java.util.ArrayList[Dataset[_]](live)
      live.clear()
      s
    }
    snapshot.forEach(unpersist)
  }

  /** The value memoized for (`spark`, `key`), built on first use. The build
    * runs outside any lock (it may itself call `memo`, and plan
    * construction must not serialize other callers); a racing duplicate
    * loses and unpersists its never-observed Dataset. */
  def memo[V <: AnyRef](spark: SparkSession, key: Any)(build: => V): V = {
    val k = (spark, key)
    memos.get(k) match {
      case null =>
        val sc = spark.sparkContext
        if (hooked.add(sc)) sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
            evict(sc)
            hooked.remove(sc)
          }
        })
        val v = build
        memos.putIfAbsent(k, v) match {
          case null => v
          case won => unpersist(v); won.asInstanceOf[V]
        }
      case v => v.asInstanceOf[V]
    }
  }

  /** Drop every memo entry of `sc`'s sessions and unpersist its Datasets:
    * the application-end handler. */
  private[graft] def evict(sc: SparkContext): Unit =
    memos.forEach { (k, v) =>
      if ((k._1.sparkContext eq sc) && memos.remove(k, v)) unpersist(v)
    }

  private[graft] def memoCount: Int = memos.size

  private def unpersist(v: AnyRef): Unit = v match {
    case ds: Dataset[_] =>
      try ds.unpersist()
      catch { case _: Exception => () } // session may already be stopped
    case _ => ()
  }
}
