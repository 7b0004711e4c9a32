package perfbench

/** Per-layer metrics of a traced run, computed from the spans the
  * workloads record. Every traced run reports every name in [[Names]];
  * a layer the workload does not exercise reads 0.
  */
object Layers {
  val SearchKinds = Seq("hybrid", "filtered", "indexed", "sql", "rag")
  val PlannedKinds = Seq("hybrid", "filtered", "indexed", "sql")

  val Names: Seq[(String, String)] = Seq(
    "jvm.gc_ms" -> "ms", "jvm.cpu_ms_per_op" -> "ms", "jvm.spark_start_s" -> "s",
    "trace.spans" -> "count", "trace.unattributed_jobs" -> "count",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%",
    "api.overhead_ms" -> "ms",
    "providers.query_encode_ms" -> "ms", "providers.calls" -> "count",
    "providers.inputs_per_call" -> "ratio", "providers.inputs_per_row" -> "ratio",
    "providers.response_bytes" -> "B", "provider_server.busy_ms" -> "ms",
    "store.read_ms" -> "ms", "store.files_per_read" -> "count",
    "store.merge_ms.embeddings" -> "ms", "store.merge_ms.tokens" -> "ms",
    "store.rows_written_per_row" -> "ratio", "store.bytes_written" -> "B",
    "store.buckets_rewritten" -> "count",
    "pipeline.backfill_rows_per_s" -> "rows/s",
    "pipeline.refresh_job_ms" -> "ms", "pipeline.decomposed_over_undivided" -> "ratio",
    "pipeline.delta_scan_ms" -> "ms", "pipeline.delta_rows" -> "count",
    "pipeline.rows_scanned_per_delta_row" -> "ratio",
    "pipeline.render_tokens_ms" -> "ms", "pipeline.embed_ms" -> "ms",
    "search.semantic_leg_ms" -> "ms", "search.fts_leg_ms" -> "ms",
    "search.fuse_self_ms" -> "ms", "search.source_rows_scanned" -> "count") ++
    SearchKinds.flatMap(k => Seq(s"search.$k.p50_ms" -> "ms", s"search.$k.jobs" -> "count",
      s"search.$k.tasks" -> "count", s"search.$k.cpu_ms" -> "ms",
      s"search.$k.rows_in" -> "count")) ++
    PlannedKinds.flatMap(k => Seq(s"plan.$k.analysis_ms" -> "ms",
      s"plan.$k.optimization_ms" -> "ms", s"plan.$k.planning_ms" -> "ms")) ++ Seq(
    "index.build_s" -> "s", "index.recall_at_10" -> "ratio",
    "index.probe_ms" -> "ms", "index.rows_scored" -> "count",
    "index.upsert_ms" -> "ms", "index.cells_rewritten" -> "count",
    "rag.retrieve_ms" -> "ms", "rag.render_trim_ms" -> "ms", "rag.chat_ms" -> "ms",
    "stream.batch_ms" -> "ms", "stream.rows_per_batch" -> "count",
    "stream.wait_ms" -> "ms", "stream.freshness_ms" -> "ms") ++
    CurateWorkload.Chains.flatMap(c => Seq(s"curate.$c.ms" -> "ms", s"curate.$c.jobs" -> "count",
      s"curate.$c.tasks" -> "count", s"curate.$c.cpu_ms" -> "ms",
      s"curate.$c.shuffle_bytes" -> "B")) ++ Seq(
    "curate.pass_s" -> "s")

  private val units = Names.toMap

  private def put(env: Env, name: String, v: Double): Unit = {
    require(units.contains(name), s"undeclared layer metric $name")
    env.metric(name, if (v.isNaN || v.isInfinite) 0.0 else v, units(name))
  }

  /** Metrics every traced run reports; unset names read 0. */
  def common(env: Env): Unit = {
    val ctx = env.context
    def num(k: String): Double = ctx.get(k) match {
      case Some(n: Number) => n.doubleValue
      case _ => 0.0
    }
    put(env, "jvm.gc_ms", num("gc_ms"))
    put(env, "jvm.cpu_ms_per_op", num("cpu_ms_per_op"))
    put(env, "jvm.spark_start_s", num("spark_start_s"))
    put(env, "trace.spans", env.tracer.all.size.toDouble)
    put(env, "trace.unattributed_jobs", env.tracer.otherBucket.jobs.get.toDouble)
    Names.foreach { case (n, u) => if (!env.layer.contains(n)) env.metric(n, 0.0, u) }
  }

  /** Tracing overhead: traced minus untraced medians of the same
    * operations, alternated within one timed loop.
    */
  def overhead(env: Env, traced: Seq[Double], untraced: Seq[Double]): Unit = {
    val t = Stats.median(traced); val u = Stats.median(untraced)
    put(env, "trace.overhead_ms", t - u)
    put(env, "trace.overhead_pct", if (u > 0) 100.0 * (t - u) / u else 0.0)
  }

  def search(env: Env, ops: Seq[Op], s0: Map[String, Long], s1: Map[String, Long]): Unit = {
    env.tracer.drain()
    val by = env.tracer.byName
    def agg(n: String) = by.getOrElse(n, SpanAgg(Nil))
    val hybridEngine = agg("engine.hybridSearch")
    SearchKinds.foreach { k =>
      val req = agg(s"req.$k")
      put(env, s"search.$k.p50_ms", req.p50)
      // the HTTP request runs on the server's threads, so the hybrid
      // request's Spark work is read from its in-process twin
      val work = if (k == "hybrid") hybridEngine else req
      put(env, s"search.$k.jobs", work.perSpan(_.jobs.get))
      put(env, s"search.$k.tasks", work.perSpan(_.tasks.get))
      put(env, s"search.$k.cpu_ms", work.perSpan(_.cpuNs.get) / 1e6)
      put(env, s"search.$k.rows_in", work.perSpan(_.rowsIn.get))
    }
    PlannedKinds.foreach { k =>
      val a = if (k == "hybrid") hybridEngine else agg(s"req.$k")
      Seq("analysis", "optimization", "planning").foreach { p =>
        put(env, s"plan.$k.${p}_ms", a.attrP50(s"plan.${p}_ms"))
      }
    }
    val tracedMs = SearchKinds.flatMap(k => agg(s"req.$k").spans.map(_.durMs))
    val untracedMs = ops.filter(o => o.ok && o.kind.endsWith(".untraced")).map(_.ms)
    overhead(env, tracedMs, untracedMs)
    put(env, "api.overhead_ms", agg("req.hybrid").p50 - hybridEngine.p50)
    val encode = agg("providers.encode")
    put(env, "providers.query_encode_ms", encode.p50)
    val sem = agg("search.semantic_leg"); val fts = agg("search.fts_leg")
    put(env, "search.semantic_leg_ms", sem.p50)
    put(env, "search.fts_leg_ms", fts.p50)
    put(env, "search.fuse_self_ms", hybridEngine.p50 - encode.p50 - sem.p50 - fts.p50)
    put(env, "search.source_rows_scanned", hybridEngine.perSpan(_.rowsIn.get))
    val read = agg("store.read")
    put(env, "store.read_ms", read.p50)
    put(env, "store.files_per_read", read.attrP50("files"))
    val probe = agg("index.probe")
    put(env, "index.probe_ms", probe.p50)
    put(env, "index.rows_scored", probe.perSpan(_.rowsIn.get))
    put(env, "index.build_s", agg("index.build").p50 / 1000)
    put(env, "index.recall_at_10", env.context.get("indexed_recall_at_10") match {
      case Some(d: Double) => d; case _ => 0.0 })
    val retrieve = agg("rag.retrieve")
    put(env, "rag.retrieve_ms", retrieve.p50)
    put(env, "rag.render_trim_ms", agg("rag.prompt").p50 - retrieve.p50)
    put(env, "rag.chat_ms", agg("rag.chat").p50)
    providers(env, s0, s1, rows = 0)
  }

  /** Provider-boundary counters between two stand-in snapshots. */
  def providers(env: Env, s0: Map[String, Long], s1: Map[String, Long], rows: Long): Unit = {
    def d(k: String) = (s1(k) - s0(k)).toDouble
    val calls = d("requests")
    put(env, "providers.calls", calls)
    put(env, "providers.inputs_per_call", if (calls > 0) d("inputs") / calls else 0.0)
    put(env, "providers.inputs_per_row", if (rows > 0) d("inputs") / rows else 0.0)
    put(env, "providers.response_bytes", d("bytes_out"))
    put(env, "provider_server.busy_ms", d("busy_ns") / 1e6)
  }

  def refresh(env: Env, ops: Seq[Op], s0: Map[String, Long], s1: Map[String, Long],
      deltaRows: Long, freshnessMs: Seq[Double], waitsMs: Seq[Double]): Unit = {
    env.tracer.drain()
    val by = env.tracer.byName
    def agg(n: String) = by.getOrElse(n, SpanAgg(Nil))
    val undivided = agg("engine.refreshJob")
    val parts = Seq("pipeline.delta_scan", "pipeline.render_tokens", "store.merge.tokens",
      "pipeline.embed", "store.merge.embeddings").map(agg)
    put(env, "pipeline.refresh_job_ms", undivided.p50)
    put(env, "pipeline.decomposed_over_undivided",
      if (undivided.p50 > 0) parts.map(_.p50).sum / undivided.p50 else 0.0)
    val delta = agg("pipeline.delta_scan")
    val deltaN = delta.attrP50("rows")
    put(env, "pipeline.delta_scan_ms", delta.p50)
    put(env, "pipeline.delta_rows", deltaN)
    put(env, "pipeline.rows_scanned_per_delta_row",
      if (deltaN > 0) delta.perSpan(_.rowsIn.get) / deltaN else 0.0)
    put(env, "pipeline.render_tokens_ms", agg("pipeline.render_tokens").p50)
    put(env, "pipeline.embed_ms", agg("pipeline.embed").p50)
    val mergeE = agg("store.merge.embeddings"); val mergeT = agg("store.merge.tokens")
    put(env, "store.merge_ms.embeddings", mergeE.p50)
    put(env, "store.merge_ms.tokens", mergeT.p50)
    val merges = mergeE.spans ++ mergeT.spans
    val written = merges.map(_.rowsWritten.get).sum.toDouble
    put(env, "store.rows_written_per_row",
      if (deltaN > 0 && mergeE.n > 0) written / mergeE.n / deltaN else 0.0)
    put(env, "store.bytes_written", if (merges.isEmpty) 0.0
      else merges.map(_.bytesWritten.get).sum.toDouble / mergeE.n.max(1))
    put(env, "store.buckets_rewritten", mergeE.attrP50("buckets_rewritten") +
      mergeT.attrP50("buckets_rewritten"))
    val upsert = agg("index.upsert")
    put(env, "index.upsert_ms", upsert.p50)
    put(env, "index.cells_rewritten", upsert.attrP50("cells_rewritten"))
    val batches = scala.jdk.CollectionConverters.IteratorHasAsScala(
      env.tracer.streamBatches.iterator()).asScala.toSeq.map(_.progress)
    put(env, "stream.batch_ms", Stats.median(batches.map(
      p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0))))
    put(env, "stream.rows_per_batch", Stats.median(batches.map(_.numInputRows.toDouble)))
    put(env, "stream.wait_ms", Stats.median(waitsMs))
    put(env, "stream.freshness_ms", Stats.median(freshnessMs))
    put(env, "pipeline.backfill_rows_per_s", env.context.get("backfill_rows_per_s") match {
      case Some(d: Double) => d; case _ => 0.0 })
    put(env, "index.build_s", agg("index.build").p50 / 1000)
    overhead(env, agg("round.traced").spans.map(_.durMs),
      ops.filter(o => o.ok && o.kind == "round.untraced").map(_.ms))
    providers(env, s0, s1, deltaRows)
  }
}
