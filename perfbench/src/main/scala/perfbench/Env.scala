package perfbench

import graft.VectorizeEngine
import graft.types._
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What every workload shares: the session, the seeded generator, the
  * run's directories, the tracer, the output checks and the metrics it
  * reports.
  */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: String, val cpus: Int) {
  val gen = new Gen(seed)
  val tracer = new Tracer(spark, traced)
  val checks = new Checks
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var ops: Seq[Op] = Seq.empty

  /** A fixed wall-clock instant for generated rows that predate the run. */
  val baseTs = new Timestamp(1700000000000L)

  def span[T](name: String, req: Long = -1L)(body: => T): T = tracer.span(name, req)(body)

  def metric(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)

  /** Runs the workload's set-up in `$work/setup` and reports its time
    * as `setup_s`. A set-up costs as much as the measurement after it
    * (a cold JVM, a backfill or a full cold pass), so each run sets up
    * once and the median over many runs steadies the figure.
    */
  def timedSetup[S](setup: String => S): S = {
    val t0 = System.nanoTime()
    val s = setup(s"$work/setup")
    e2e("setup_s") = ((System.nanoTime() - t0) / 1e9, "s")
    s
  }

  /** The end-to-end metrics every workload reports from its timed loop.
    * `latency_ms` is the median latency of each kind of operation,
    * averaged with the workload's `mix` weights: a statistic of the
    * whole mix that does not jump when the overall median falls between
    * two kinds.
    */
  def reportLoop(ops: Seq[Op], elapsedS: Double, cpuNs: Long, mix: Map[String, Double]): Unit = {
    this.ops = ops
    val ok = ops.filter(_.ok)
    val byKind = ok.groupBy(_.kind.stripSuffix(".untraced"))
    e2e("latency_ms") = (mix.map { case (k, w) =>
      w * Stats.median(byKind.getOrElse(k, Nil).map(_.ms)) }.sum / mix.values.sum, "ms")
    e2e("ops_per_s") = (if (elapsedS > 0) ok.size / elapsedS else 0.0, "1/s")
    context("cpu_ms_per_op") = if (ok.isEmpty) 0.0 else cpuNs / 1e6 / ok.size
    context("ops") = ops.size
    if (ops.size <= 24) context("op_ms") = ops.map(_.ms)
    context("measured_s") = elapsedS
    ops.groupBy(_.kind).foreach { case (k, os) =>
      context(s"ops.$k") = os.size
      context(s"p50_ms.$k") = Stats.median(os.map(_.ms))
    }
  }

  // ---------------------------------------------------------------
  // corpus, job and engine helpers shared by search and refresh
  // ---------------------------------------------------------------

  val JobName: String = Env.JobName

  val docSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("body", StringType),
    StructField("category", StringType),
    StructField("price", DoubleType),
    StructField("updated_at", TimestampType)))

  def docsDf(docs: Seq[Gen.Doc], partitions: Int): DataFrame = {
    val rows = docs.map(d => Row(d.id, d.body, d.category, d.price, d.updatedAt))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), docSchema)
  }

  def writeDocs(docs: Seq[Gen.Doc], path: String, partitions: Int): Unit =
    docsDf(docs, partitions).write.mode("overwrite").parquet(path)

  def job(baseUrl: String): VectorizeJob = VectorizeJob(
    jobName = JobName, srcTable = "docs", srcColumns = Seq("body"), primaryKey = "id",
    updateTimeCol = Some("updated_at"),
    model = Model.parseUnsafe(VectorizeEngine.DefaultEmbedModel),
    indexDist = IndexDist.VscDiskannCos, schedule = "manual",
    params = Map("base_url" -> baseUrl))

  /** Shared set-up of `search` and `refresh`: generate the corpus as
    * source version 0, start a model stand-in, create the job (the
    * backfill) and build its IVF index.
    */
  def setupJob(dir: String, corpusSize: Int): Env.JobState = {
    val standIn = new StandIn(cpus).start()
    val srcPath = s"$dir/src_v0"
    val corpus = span("setup.generate") {
      val c = gen.corpus(corpusSize, baseTs); writeDocs(c, srcPath, cpus); c
    }
    val engine = new VectorizeEngine(spark, s"$dir/warehouse")
    engine.registerSource("docs", spark.read.parquet(srcPath))
    val t0 = System.nanoTime()
    span("engine.createJob") { engine.createJob(job(standIn.baseUrl)) }
    val backfillS = (System.nanoTime() - t0) / 1e9
    context("backfill_rows_per_s") = corpusSize / backfillS
    val indexPath = s"$dir/ivf"
    span("index.build") { engine.buildVectorIndex(JobName, indexPath) }
    new Env.JobState(dir, standIn, engine, corpus, srcPath, indexPath)
  }

  val embTable = s"_embeddings_$JobName"
  val tokTable = s"_search_tokens_$JobName"

  /** Bucket → version map of a warehouse table, from its `_BUCKETS` file. */
  def bucketVersions(warehouse: String, table: String): Map[Int, Long] = {
    val f = new java.io.File(s"$warehouse/$table/_BUCKETS")
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(b, v) = l.split("\\s+"); b.toInt -> v.toLong
      }.toMap
  }

  /** Brute-force cosine top-k over `vecs`, ties broken by id ascending. */
  def bruteTopK(vecs: Map[Long, Array[Float]], q: Array[Float], k: Int): Seq[(Long, Double)] =
    vecs.iterator.map { case (id, v) => id -> Env.cosine(v, q) }
      .filter(!_._2.isNaN).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)
}

object Env {
  val JobName = "docs"

  final class JobState(val dir: String, val standIn: StandIn, val engine: VectorizeEngine,
      val corpus: IndexedSeq[Gen.Doc], val srcPath: String, val indexPath: String)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) Double.NaN else dot / math.sqrt(na * nb)
  }
}
