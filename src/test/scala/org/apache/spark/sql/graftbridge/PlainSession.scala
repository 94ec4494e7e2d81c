package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{SparkSession, classic}

/** A new session over `sc` with no session extensions, as a
  * `SparkSession.builder()` without `withExtensions` makes. The
  * constructor is private[sql], hence this shim in the sql namespace. */
object PlainSession {
  def apply(sc: SparkContext): SparkSession = new classic.SparkSession(sc)
}
