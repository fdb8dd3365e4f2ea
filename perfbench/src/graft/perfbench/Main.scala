package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.util.Json

/** JVM side of the benchmark (`perfbench/run.py` launches it).
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE
  *
  * Runs one workload in one Spark session (local[N], N ≤ 4) with one
  * client thread and writes its [[Outcome]] as JSON to `--out`. The
  * Python side adds the DuckDB oracle verdicts and prints the result.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val startStamp = Box.stamp()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())) / 1000.0
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("data"), opts("work"))
    // The execution counters are part of the traced run only.
    val counters = new SparkCounters
    if (ctx.trace) spark.sparkContext.addSparkListener(counters)

    val out =
      try workload match {
        case "serve_mcp_2k" => ServeWorkload.run(ctx, counters)
        case "spark_sf001" => SparkWorkloads.run(ctx, counters)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    out.detail("box") = Map("start" -> startStamp, "end" -> Box.stamp(), "local_cpus" -> cpus)
    out.detail("jvm_to_session_s") = sessionS

    def metrics(m: scala.collection.Map[String, (Double, String)]) =
      ListMap(m.toSeq.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*)
    val json = Json.render(ListMap(
      "workload" -> workload,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "failures" -> out.failures.toSeq,
      "end_to_end" -> metrics(out.e2e),
      "per_layer" -> metrics(out.layer),
      "outputs" -> out.outputs,
      "oracle" -> ListMap(out.outputs.keys.toSeq.flatMap(q =>
        graft.SparkEntry.oracleSql.get(q).map(q -> _)): _*),
      "detail" -> out.detail))
    Files.writeString(Paths.get(opts("out")), json)
  }
}
