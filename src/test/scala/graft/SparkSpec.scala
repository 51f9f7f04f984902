package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide session, UTC, quiet. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Runs `body` with the LocalGate key at `bytes`, then restores the
    * EXACT previous conf (unset if absent): suites share one JVM-wide
    * session, so restoring a hard-coded value could clobber another
    * suite's override.
    */
  def withLocalBytes[A](bytes: Long)(body: => A): A = {
    val key = graft.functions.LocalGate.Key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs `body` with every executor-local fast path off. */
  def forcedDistributed[A](body: => A): A = withLocalBytes(0)(body)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.configure(
      SparkSession.builder().master("local[4]").appName("graft-test"), "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
