package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  /** The factory's session at the suite's fixed width of 4 cores. */
  lazy val session: SparkSession = GraftSession(cores = Some(4))
}
