package graft

import java.util.WeakHashMap
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** A value computed once per (session, key). The map is weak-keyed on the
  * session object itself, so a session that is no longer referenced takes
  * its entries with it, and two live sessions never share one. Values must
  * not reference their session, or it can never be collected.
  *
  * `compute` runs outside any lock (it may run Spark jobs and consult other
  * memos); two threads racing on a cold key may both compute it, and the
  * first stored value wins, so `compute` must be deterministic. */
private[graft] final class SessionMemo[K, V <: AnyRef] {
  private val bySession = new WeakHashMap[SparkSession, ConcurrentHashMap[K, V]]()

  def apply(s: SparkSession, key: K)(compute: => V): V = {
    val memo = bySession.synchronized(
      bySession.computeIfAbsent(s, _ => new ConcurrentHashMap[K, V]()))
    val hit = memo.get(key)
    if (hit != null) hit
    else {
      val v = compute
      val prev = memo.putIfAbsent(key, v)
      if (prev == null) v else prev
    }
  }
}
