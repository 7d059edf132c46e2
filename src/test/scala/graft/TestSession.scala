package graft

import graft.ops.Placement
import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with [[Placement.ForceDistributed]] set to `forced`; the
    * previous setting is restored even when `body` throws. */
  def withForcedDistributed[A](forced: Boolean)(body: => A): A = {
    val key = Placement.ForceDistributed
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, forced.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body` on the guarded operators' local side, then again with
    * their distributed side forced; `body` gets the flag for messages. */
  def bothPlacements(body: Boolean => Unit): Unit =
    Seq(false, true).foreach(f => withForcedDistributed(f)(body(f)))
}
