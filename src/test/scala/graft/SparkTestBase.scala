package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one JVM-wide [[Session]] (tiny SF). */
object SparkTestBase {
  lazy val spark: SparkSession = Session.builder()
    .appName("graft-test")
    // The 4.x ChecksumCheckpointFileManager deadlocks its async checksum
    // writer pool under rapid transformWithState micro-batches with TTL
    // column families (all executor tasks parked in awaitResult —
    // observed in StreamingSpec); the plain manager has no such pool.
    // Checksums only guard checkpoint corruption — no semantics change.
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = SparkTestBase.sf
  spark.sparkContext.setLogLevel("ERROR")
}
