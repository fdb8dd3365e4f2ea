package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]: operation counts,
  * failures, the end-to-end metrics, the per-layer metrics (traced run
  * only) and free-form detail for the human-readable report. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** query name → parquet dir holding its checked result (oracle input) */
  val outputs = mutable.LinkedHashMap.empty[String, String]

  def ok(): Unit = attempted += 1
  def fail(msg: String): Unit = {
    attempted += 1
    failed += 1
    if (failures.size < 20) failures += msg
  }
}

/** Inputs every workload gets. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, dataDir: String, workDir: String)
