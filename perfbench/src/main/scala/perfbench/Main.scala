package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` builds the classpath and starts
  * this with the run's arguments; it prints its result as one line
  * prefixed `PERFBENCH_RESULT ` and exits 0 even when a check failed
  * (the result says so).
  *
  * Arguments: --workload search|refresh|curate --seed N --seconds S
  * --trace 0|1 --work DIR --cpus N
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-layer-metrics"))) {
      // the per-layer names and units, for BENCHMARK.json
      Layers.Names.foreach { case (n, u) => println(s"$n $u") }
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cpus = opts("cpus").toInt
    val work = new java.io.File(opts("work")).getAbsolutePath
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = new Env(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work, cpus)
    env.context("spark_start_s") = (System.nanoTime() - t0) / 1e9
    env.context("workload") = workload
    env.context("seed") = env.seed
    env.context("cpus") = cpus
    val outcome =
      try {
        workload match {
          case "search" => SearchWorkload.run(env)
          case "refresh" => RefreshWorkload.run(env)
          case "curate" => CurateWorkload.run(env)
          case other => throw new IllegalArgumentException(s"unknown workload: $other")
        }
        None
      } catch { case e: Throwable =>
        e.printStackTrace()
        Some(e.toString)
      }
    env.tracer.close()
    if (env.traced) env.tracer.write(s"$work/trace/spans.jsonl")
    env.e2e("peak_rss_mb") = (Proc.peakRssMb, "MB")
    if (env.traced) Layers.common(env)
    val opsFailed = env.ops.count(!_.ok)
    val result = Seq[(String, Any)](
      "error" -> outcome.orNull,
      "attempted" -> (env.ops.size + env.checks.all.size),
      "failed" -> (opsFailed + env.checks.failed),
      "checks" -> env.checks.all.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "e2e" -> env.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layer" -> env.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "context" -> env.context.toMap)
    println("PERFBENCH_RESULT " + Json.obj(result))
    System.out.flush()
    spark.stop()
  }
}
