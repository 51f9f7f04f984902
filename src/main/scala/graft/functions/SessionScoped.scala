package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session-scoped stage cache: a WEAK-keyed outer map so a static cache
  * never pins a stopped SparkSession (and its staged artifact paths) for
  * the JVM lifetime — entries vanish with the session; staged files live
  * under [[F.stageTempPath]]'s delete-on-exit root. Values must not
  * reference the session (cache PATHS, not DataFrames).
  *
  * The per-session inner map uses computeIfAbsent, so concurrent callers
  * build an artifact once; builders that stage NESTED artifacts should
  * use distinct keys (reentrant updates of the same key deadlock by
  * design — that's a build cycle).
  */
final class SessionScoped[V] {
  private val maps = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, V]]()
  def getOrCompute(spark: SparkSession, key: String)(make: => V): V = {
    val m = maps.synchronized {
      var x = maps.get(spark)
      if (x == null) {
        x = new java.util.concurrent.ConcurrentHashMap[String, V]()
        maps.put(spark, x)
      }
      x
    }
    m.computeIfAbsent(key, _ => make)
  }

  /** Every entry built so far for this session. */
  def entries(spark: SparkSession): Map[String, V] =
    Option(maps.synchronized(maps.get(spark)))
      .fold(Map.empty[String, V])(_.asScala.toMap)
}
