package graft

import org.apache.spark.sql.SparkSession

/** The specs' shared session: graft.GraftSession at 4 cores, so specs run
  * the plan surface and partitioning posture Bench and Verify run.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.build(4)
}
