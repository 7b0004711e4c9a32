package perfbench

import graft.VectorizeEngine
import graft.api.HttpApi
import graft.operators.{Pipeline, Search}
import graft.providers.DeterministicChatProvider
import graft.types.FilterValue
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.functions.col

/** `search`: read-only serving over a backfilled, IVF-indexed corpus.
  *
  * Two clients in a closed loop send a fixed mix of the five read
  * paths a user has: 40% hybrid over HTTP (`GET /api/v1/search`), 15%
  * typed-filter semantic search, 15% IVF-indexed search, 15% SQL with
  * `vectorize_embed`, 15% RAG. Nothing is written while it runs.
  */
object SearchWorkload {
  val CorpusSize = 5000
  val Clients = 2
  val Mix: Seq[(String, Double)] =
    Seq("hybrid" -> 0.40, "filtered" -> 0.15, "indexed" -> 0.15, "sql" -> 0.15, "rag" -> 0.15)
  /** The request kinds in a fixed 20-request cycle with the shares of
    * [[Mix]]; each client starts at a different point of it, so every
    * run sends the same mix and only the query texts vary with the seed.
    */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "hybrid", "filtered", "hybrid", "indexed", "sql", "hybrid", "rag", "hybrid", "filtered", "sql",
    "hybrid", "indexed", "rag", "hybrid", "filtered", "hybrid", "sql", "indexed", "hybrid", "rag")

  final class State(val job: Env.JobState, val api: HttpApi) {
    def engine: VectorizeEngine = job.engine
    def standIn: StandIn = job.standIn
    def indexPath: String = job.indexPath
    def srcPath: String = job.srcPath
    def close(): Unit = { api.stop(); standIn.stop() }
  }

  def setup(env: Env, dir: String): State = {
    val job = env.setupJob(dir, CorpusSize)
    job.engine.enableSqlFunctions()
    job.engine.projectView(Env.JobName).createOrReplaceTempView("docs_view")
    val api = new HttpApi(job.engine)
    api.start()
    new State(job, api)
  }

  private val http = HttpClient.newHttpClient()

  def httpHybrid(st: State, q: String): String = {
    val url = s"http://127.0.0.1:${st.api.boundPort}/api/v1/search?job_name=${Env.JobName}" +
      s"&query=${URLEncoder.encode(q, UTF_8)}&limit=10"
    val resp = http.send(HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200) throw new IllegalStateException(s"HTTP ${resp.statusCode()}")
    resp.body()
  }

  def filters(r: Int): Map[String, FilterValue] = Map(
    "category" -> FilterValue.parse(s"eq.cat${r % 8}").toOption.get,
    "price" -> FilterValue.parse(s"gte.${(r * 37) % 500}").toOption.get)

  def sqlText(q: String): String =
    s"""SELECT id, cosine_similarity(embeddings, vectorize_embed('${q.replace("'", "''")}', '${Env.JobName}')) AS score
       |FROM docs_view ORDER BY score DESC, id LIMIT 10""".stripMargin

  /** One read request of kind `kind`; returns the rows it produced. */
  def request(env: Env, st: State, kind: String, q: String, i: Int): Int = {
    import env._
    val e = st.engine
    kind match {
      case "hybrid" => countJsonRows(httpHybrid(st, q))
      case "filtered" =>
        val df = e.search(JobName, q, 10, filters = filters(i))
        val n = df.collect().length; tracer.planPhases(df); n
      case "indexed" =>
        val df = e.searchIndexed(JobName, st.indexPath, q, 10)
        val n = df.collect().length; tracer.planPhases(df); n
      case "sql" =>
        val df = spark.sql(sqlText(q))
        val n = df.collect().length; tracer.planPhases(df); n
      case "rag" => e.rag(JobName, q).collect().length
    }
  }

  /** Traced-run breakdown of one request into the layer calls that make
    * it up, each called the way the engine calls it.
    */
  def breakdown(env: Env, st: State, kind: String, q: String, i: Int): Unit = {
    import env._
    val e = st.engine
    val qv = span("providers.encode") { e.encode(JobName, q) }
    def read(t: String) = span("store.read") {
      val df = e.store.read(t); tracer.attr("files", df.inputFiles.length.toDouble); df
    }
    kind match {
      case "hybrid" =>
        span("engine.hybridSearch") {
          val df = e.hybridSearch(JobName, q, 10, windowSize = Some(50))
          df.collect(); tracer.planPhases(df)
        }
        val emb = read(embTable)
        val tok = read(tokTable)
        span("search.semantic_leg") { Search.semanticLeg(emb, qv, 50).collect() }
        span("search.fts_leg") { Search.ftsLeg(tok, q, 50).collect() }
      case "indexed" =>
        span("index.probe") { e.probeVectorIndex(JobName, st.indexPath, qv, 10).collect() }
      case "rag" =>
        span("rag.retrieve") { e.search(JobName, q, VectorizeEngine.DefaultRagNumContext).collect() }
        val p = span("rag.prompt") { e.ragPrompt(JobName, q) }
        span("rag.chat") {
          new DeterministicChatProvider().generateResponse(VectorizeEngine.DefaultChatModel,
            p.sysPrompt, p.userPrompt)
        }
      case _ => ()
    }
  }

  def countJsonRows(body: String): Int =
    graft.api.MiniJson.parse(body).toOption.flatMap(_.asArr).map(_.size)
      .getOrElse(throw new IllegalStateException("bad search response"))

  def run(env: Env): Unit = {
    import env._
    val st = timedSetup(dir => setup(env, dir))
    val queries = gen.queries(4000)
    context("corpus_docs") = CorpusSize
    context("clients") = Clients
    context("loop") = "closed"
    context("repeated_query_share") = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      queries.count(q => !seen.add(q)).toDouble / queries.size
    }
    // each client sends one untimed cycle first, so every path is warm
    Loop.closed(Clients, 0, minOps = Cycle.size) { (c, i) =>
      val kind = Cycle(i); request(env, st, kind, queries(3000 + c * Cycle.size + i), i); kind
    }

    val standIn0 = st.standIn.snapshot
    val cpu0 = Proc.cpuNs; val gc0 = Proc.gcMs
    val (ops, elapsed) = Loop.closed(Clients, seconds) { (c, i) =>
      val kind = Cycle((i + c * Cycle.size / Clients) % Cycle.size)
      val q = queries((c * 2000 + i) % queries.size)
      // in a traced run every other request of a client is traced, so
      // traced and untraced latencies come from the same window
      val traceThis = traced && i % 2 == 1
      val rows =
        if (traceThis) {
          val req = tracer.newRequest()
          val n = span(s"req.$kind", req) { request(env, st, kind, q, i) }
          span(s"breakdown.$kind", req) { breakdown(env, st, kind, q, i) }
          n
        } else request(env, st, kind, q, i)
      if (rows == 0) throw new IllegalStateException(s"$kind returned no rows for '$q'")
      if (traced && !traceThis) s"$kind.untraced" else kind
    }
    val cpu = Proc.cpuNs - cpu0
    context("gc_ms") = Proc.gcMs - gc0
    reportLoop(ops, elapsed, cpu, Mix.toMap)
    val standIn1 = st.standIn.snapshot

    check(env, st, queries)
    if (traced) Layers.search(env, ops, standIn0, standIn1)
    st.close()
  }

  /** Output checks, outside the timed loop. */
  def check(env: Env, st: State, queries: IndexedSeq[String]): Unit = {
    import env._
    val e = st.engine
    val rendered = Pipeline.renderInputs(spark.read.parquet(st.srcPath), "id", Seq("body"))
      .collect().map(r => r.getString(0).toLong -> st.standIn.provider.embedOne(r.getString(1)))
      .toMap
    val sample = queries.take(5)
    sample.foreach { q =>
      checks(s"semantic top-10 equals brute force: '$q'") {
        val got = e.search(JobName, q, 10).select(col("id"), col("similarity_score"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
        val want = bruteTopK(rendered, st.standIn.provider.embedOne(q), 10)
        // a valid top-10: ten rows, each scored exactly, none below the
        // exact tenth score (rows tied at the cut may differ)
        val qv = st.standIn.provider.embedOne(q)
        val tenth = want.last._2
        val bad = got.filter { case (id, s) =>
          math.abs(s - Env.cosine(rendered(id), qv)) > 1e-5 || s < tenth - 1e-6
        }
        if (got.size != want.size) Some(s"${got.size} rows, want ${want.size}")
        else if (bad.nonEmpty) Some(s"ids ${bad.map(_._1)} not in the exact top-10")
        else None
      }
      checks(s"HTTP hybrid equals in-process hybridSearch: '$q'") {
        val viaHttp = httpHybrid(st, q)
        val inProc = e.hybridSearchJson(JobName, q, 10).collect().map(_.getString(0))
          .mkString("[", ",", "]")
        if (viaHttp == inProc) None else Some("responses differ")
      }
    }
    // recall of the IVF path against exact search: reported, not gated
    val recallQs = queries.slice(100, 110)
    val recalls = recallQs.map { q =>
      val got = e.searchIndexed(JobName, st.indexPath, q, 10).select("id").collect()
        .map(_.getLong(0)).toSet
      val want = bruteTopK(rendered, st.standIn.provider.embedOne(q), 10).map(_._1).toSet
      if (want.isEmpty) 1.0 else (got intersect want).size.toDouble / want.size
    }
    context("indexed_recall_at_10") = recalls.sum / recalls.size
  }
}
