package graft

import java.nio.file.Files
import graft.core.GraftSession
import org.apache.commons.io.FileUtils
import org.apache.spark.grafttest.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  val sfDir = "/root/testdata/sf0.001"
  /** The sf0.01 and sf0.1 tables beside `sfDir`, read-only like every
    * test table. */
  val sf001Dir = s"${new java.io.File(sfDir).getParent}/sf0.01"
  val sf01Dir = s"${new java.io.File(sfDir).getParent}/sf0.1"

  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[8]").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with `settings` on the shared session, then restores
    * each key's earlier value, or unsets it if it had none. */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    val before = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with a fresh temp directory, deleted afterwards. */
  def withTempDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft-test").toFile
    try body(dir.getPath) finally FileUtils.deleteDirectory(dir)
  }

  /** Spark jobs launched by `body`, counted through a job group once the
    * listener bus has delivered them. `group` must be unique per call. */
  def jobsLaunchedBy(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    ListenerBusDrain.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Spark tasks launched by `body`, summed over the stages of the jobs
    * of a job group, as `jobsLaunchedBy` counts them. */
  def tasksLaunchedBy(group: String)(body: => Unit): Int = {
    val tracker = spark.sparkContext.statusTracker
    jobsLaunchedBy(group)(body)
    tracker.getJobIdsForGroup(group).toSeq.flatMap(tracker.getJobInfo).flatMap(_.stageIds)
      .flatMap(tracker.getStageInfo).map(_.numTasks).sum
  }
}
