package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** `curate`: the batch LLM-data chains of `SparkEntry.queries` —
  * dedup, boilerplate, language ID, quality and curriculum — over a
  * seeded 2,000-document set with injected exact and near duplicates.
  *
  * One client runs whole passes of the six chains in a fixed order;
  * each chain run (to a collected result) is one operation. A cold pass
  * over a fresh copy of the documents is the set-up.
  */
object CurateWorkload {
  val Chains: Seq[String] = Seq("ingest_audit", "pipeline_ingest_boil", "dedup_clusters_star",
    "dedup_substrings", "pipeline_curriculum", "text_language_id_stored")
  val Docs = 2000
  val EmbeddingRows = 2000
  val EmbeddingDim = 64

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The side table of labelled vectors the semantic stages read. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def runChain(env: Env, dir: String, chain: String): Int =
    SparkEntry.queries(chain)(env.spark, dir).collect().length

  /** Writes the documents to `dir` and runs the cold pass; returns each
    * chain's result from that pass, the rows the oracles check.
    */
  def setup(env: Env, dir: String): Map[String, DataFrame] = {
    import env._
    val docs = gen.curateDocs(Docs)
    val rows = docs.map(d => Row(d.docId, d.text, d.lang, d.source, d.nChars))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecs = gen.curateVectors(EmbeddingRows, EmbeddingDim)
      .map { case (id, v, label) => Row(id, v.toSeq, label) }
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Chains.map { c =>
      c -> span(s"setup.$c") {
        val df = SparkEntry.queries(c)(spark, dir)
        spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      }
    }.toMap
  }

  def run(env: Env): Unit = {
    import env._
    val dir = s"$work/setup"
    val results = timedSetup(d => setup(env, d))
    context("documents") = Docs
    context("clients") = 1
    context("loop") = "closed"
    val cpu0 = Proc.cpuNs; val gc0 = Proc.gcMs
    // whole passes, so every run times the same mix of chains
    val (ops, elapsed) = Loop.closed(1, seconds, minOps = if (traced) 2 * Chains.size else 0,
        unit = Chains.size) { (_, i) =>
      val chain = Chains(i % Chains.size)
      // traced run: every chain runs once traced and once untraced over
      // two passes, half of them traced in each pass, so the tracing
      // overhead compares the same chains without a pass-order bias
      val traceThis = traced && (i % Chains.size) % 2 == (i / Chains.size) % 2
      if (traced && !traceThis) {
        tracer.spanOn = false
        try runChain(env, dir, chain) finally tracer.spanOn = true
        s"$chain.untraced"
      } else {
        span(s"curate.$chain") { runChain(env, dir, chain) }
        chain
      }
    }
    val cpu = Proc.cpuNs - cpu0
    context("gc_ms") = Proc.gcMs - gc0
    reportLoop(ops, elapsed, cpu, Chains.map(_ -> 1.0).toMap)

    // results and oracle SQL for run.py's DuckDB compare
    val out = s"$work/curate_out"
    results.foreach { case (c, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$out/$c") }
    val t0 = System.nanoTime()
    graft.PerfbenchOracleAux.dump(spark, dir, out, s"$work/spandf")
    context("oracle_aux_s") = (System.nanoTime() - t0) / 1e9
    val sql = Chains.map(c => c -> SparkEntry.oracleSql(c).replace("__AUX__", out))
    val auxRef = "__AUX__/([a-z0-9_]+)\\.parquet".r
    checks("the curate oracles read only the dumped engine stores") {
      val needed = Chains.flatMap(c => auxRef.findAllMatchIn(SparkEntry.oracleSql(c)).map(_.group(1)))
        .distinct.filterNot(graft.PerfbenchOracleAux.Files.contains)
      if (needed.isEmpty) None else Some(s"no dump for ${needed.mkString(", ")}")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(sql))
    context("curate_docs_dir") = dir
    context("curate_out_dir") = out
    if (traced) {
      tracer.drain()
      val by = tracer.byName
      val mid = Chains.map { c =>
        val a = by.get(s"curate.$c")
        def m(n: String, v: Double, u: String): Unit = env.metric(s"curate.$c.$n", v, u)
        m("ms", a.map(_.p50).getOrElse(0.0), "ms")
        m("jobs", a.map(_.perSpan(_.jobs.get)).getOrElse(0.0), "count")
        m("tasks", a.map(_.perSpan(_.tasks.get)).getOrElse(0.0), "count")
        m("cpu_ms", a.map(_.perSpan(_.cpuNs.get) / 1e6).getOrElse(0.0), "ms")
        m("shuffle_bytes", a.map(_.perSpan(_.shuffleBytes.get)).getOrElse(0.0), "B")
        a.map(_.p50).getOrElse(0.0)
      }
      env.metric("curate.pass_s", mid.sum / 1000, "s")
      // per chain, traced over untraced: the ratio does not depend on
      // which chains landed in which pass
      val byChain = ops.filter(_.ok).groupBy(_.kind.stripSuffix(".untraced"))
      val ratios = byChain.values.toSeq.flatMap { os =>
        val (u, t) = os.partition(_.kind.endsWith(".untraced"))
        if (u.isEmpty || t.isEmpty) None
        else Some(Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)))
      }
      val r = Stats.median(ratios)
      env.metric("trace.overhead_pct", if (ratios.isEmpty) 0.0 else 100 * (r - 1), "%")
      env.metric("trace.overhead_ms", if (ratios.isEmpty) 0.0
        else (r - 1) * Stats.median(byChain.values.toSeq.flatten.map(_.ms)), "ms")
    }
  }
}
