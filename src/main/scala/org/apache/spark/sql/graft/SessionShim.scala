package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** `cloneSession` and `withActive` are `private[sql]` in Spark 4; this
  * shim lives in an `org.apache.spark.sql` subpackage for access (the
  * ColumnSortShim convention) and exposes exactly the two calls
  * `graft.GraftSession.pinned` needs. */
object SessionShim {
  /** A session sharing `s`'s SparkContext, tables and caches, with its
    * own copy of `s`'s runtime conf, temp views and functions. */
  def cloneSession(s: SparkSession): SparkSession = s match {
    case c: org.apache.spark.sql.classic.SparkSession => c.cloneSession()
  }

  /** Runs `body` with `s` as this thread's active session, then restores
    * the previous one. */
  def withActive[A](s: SparkSession)(body: => A): A = s.withActive(body)
}
