package perfbench

import graft.operators.Pipeline
import graft.streaming.Realtime
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `refresh`: the write path alone — how changed rows become
  * searchable.
  *
  * One client runs rounds in a closed loop, at least four per run,
  * after one untimed round. Each round publishes a new
  * source version with a 1% change (15 updates stamped with the wall
  * clock, 5 inserts), then times: the cron path (`refreshJob`: delta
  * scan, render, provider batches, two MERGEs), and the realtime path
  * (one 20-document file appended to the job's file stream, one
  * `Realtime.runAvailableNow` micro-batch with the IVF upsert, and the
  * search that finds the file's marker document).
  */
object RefreshWorkload {
  val CorpusSize = 2000
  val Updates = 15
  val Inserts = 5
  val StreamDocs = 20
  val MinRounds = 4
  val WarmRounds = 1
  /** Ids of streamed documents start here, clear of the corpus's ids. */
  val StreamIdBase = 100000000L

  def run(env: Env): Unit = {
    import env._
    val st = timedSetup(dir => setupJob(dir, CorpusSize))
    val e = st.engine
    val job = e.job(JobName).get
    context("corpus_docs") = CorpusSize
    context("clients") = 1
    context("loop") = "closed"
    context("change_per_round") = Map("updates" -> Updates, "inserts" -> Inserts,
      "stream_docs" -> StreamDocs)

    // the current source: corpus rows by id, plus the stream files
    val docs = new java.util.TreeMap[java.lang.Long, Gen.Doc]()
    st.corpus.foreach(d => docs.put(d.id, d))
    var maxId = CorpusSize.toLong
    val streamDir = s"${st.dir}/stream"
    new java.io.File(streamDir).mkdirs()
    var srcPath = st.srcPath
    def register(): Unit =
      e.registerSource("docs", spark.read.schema(docSchema).parquet(srcPath, streamDir))
    register()
    val streamDf = spark.readStream.schema(docSchema).parquet(streamDir)
    val ckpt = s"${st.dir}/checkpoint"

    val freshness = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deltaCounts = scala.collection.mutable.ArrayBuffer.empty[Long]

    /** Publish round `r`'s source version (untimed: the user's write). */
    def publish(r: Int): Unit = {
      val now = new Timestamp(System.currentTimeMillis())
      val (upd, ins) = gen.changeSet(r, maxId, Updates, Inserts, now)
      (upd ++ ins).foreach(d => docs.put(d.id, d))
      maxId += Inserts
      srcPath = s"${st.dir}/src_v${r + 1}"
      val all = scala.jdk.CollectionConverters.CollectionHasAsScala(docs.values()).asScala.toSeq
      writeDocs(all, srcPath, cpus)
      register()
    }

    /** The refresh as `refreshJob` runs it, one public call per step. */
    def decomposedRefresh(): Long = {
      val src = spark.read.schema(docSchema).parquet(srcPath, streamDir)
      val warehouse = s"${st.dir}/warehouse"
      val delta = span("pipeline.delta_scan") {
        val d = Pipeline.deltaScanJoin(src, e.store.read(embTable), "id", Some("updated_at"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        tracer.attr("rows", d.count().toDouble); d
      }
      try {
        val tokens = span("pipeline.render_tokens") {
          val t = Pipeline.renderSearchTokens(delta, "id", job.srcColumns)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          t.count(); t
        }
        mergeTraced("store.merge.tokens", warehouse, tokTable, tokens)
        tokens.unpersist()
        val embedded = span("pipeline.embed") {
          val em = Pipeline.embed(Pipeline.renderInputs(delta, "id", job.srcColumns),
            e.provider(job), job.model.apiName)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          em.count(); em
        }
        try {
          mergeTraced("store.merge.embeddings", warehouse, embTable, embedded)
          embedded.count()
        } finally embedded.unpersist()
      } finally delta.unpersist()
    }

    def mergeTraced(name: String, warehouse: String, table: String, df: DataFrame): Unit =
      span(name) {
        val before = bucketVersions(warehouse, table)
        e.store.merge(table, df, "pkey")
        val after = bucketVersions(warehouse, table)
        tracer.attr("buckets_rewritten", after.count { case (b, v) => !before.get(b).contains(v) }.toDouble)
      }

    val waits = scala.collection.mutable.ArrayBuffer.empty[Double]

    /** Append round `r`'s stream file, run the realtime job's pass over
      * it (`Realtime.runAvailableNow`, the job's cron mode), and find its
      * marker; returns the freshness in ms. In a traced run the IVF
      * upsert runs after the micro-batch instead of inside it, so it
      * gets its own span.
      */
    def streamRound(r: Int): Double = {
      val firstId = StreamIdBase + r.toLong * StreamDocs
      val (marker, files) = gen.streamFile(r, firstId, StreamDocs,
        new Timestamp(System.currentTimeMillis()))
      val tmp = s"${st.dir}/stream_tmp/$r"
      writeDocs(files, tmp, 1)
      val part = new java.io.File(tmp).listFiles().find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, new java.io.File(s"$streamDir/f$r.parquet").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val committed = System.nanoTime()
      val committedAt = System.currentTimeMillis()
      register()
      val q = span("stream.micro_batch") {
        val q = Realtime.runAvailableNow(e, JobName, streamDf, ckpt,
          if (traced) None else Some(st.indexPath))
        q.awaitTermination(); q
      }
      q.exception.foreach(ex => throw ex)
      q.recentProgress.find(_.numInputRows > 0).foreach(p =>
        waits += (java.time.Instant.parse(p.timestamp).toEpochMilli - committedAt).toDouble)
      if (traced) span("index.upsert") {
        val ids = spark.range(firstId, firstId + StreamDocs)
          .select(col("id").cast("string").as("pkey"))
        val changed = e.store.read(embTable).join(ids, Seq("pkey")).select("pkey", "embeddings")
        val cells = new java.io.File(s"${st.indexPath}/assigned")
        def listing = Option(cells.listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
          .map(d => d.getName -> d.list().sorted.mkString(",")).toMap
        val before = listing
        e.upsertVectorIndex(JobName, st.indexPath, changed)
        val after = listing
        tracer.attr("cells_rewritten", after.count { case (c, fs) => !before.get(c).contains(fs) }.toDouble)
      }
      val found = span("stream.marker_search") {
        e.hybridSearch(JobName, marker, 10).select("id").collect().map(_.getLong(0))
      }
      if (!found.contains(firstId))
        throw new IllegalStateException(s"marker $marker not searchable after its micro-batch")
      (System.nanoTime() - committed) / 1e6
    }

    // untimed warm rounds
    (0 until WarmRounds).foreach { r =>
      publish(r)
      deltaCounts += e.refreshJob(JobName)
      streamRound(r)
    }

    val s0 = st.standIn.snapshot
    val cpu0 = Proc.cpuNs; val gc0 = Proc.gcMs
    // a round takes seconds, so a run measures at least MinRounds of them
    val (ops, elapsed) = Loop.closed(1, seconds, prepare = (_, i) => publish(WarmRounds + i),
        minOps = MinRounds) { (_, i) =>
      val r = WarmRounds + i
      // traced run: rounds cycle split / untraced / traced, so the split
      // rounds give the per-step times and the tracing overhead
      // compares like rounds
      val mode = if (traced) Seq(2, 0, 1)(i % 3) else 0
      def round(): Unit = {
        val n =
          if (mode == 2) decomposedRefresh()
          else span("engine.refreshJob") { e.refreshJob(JobName) }
        deltaCounts += n
        if (n != Updates + Inserts)
          throw new IllegalStateException(s"refresh embedded $n rows, want ${Updates + Inserts}")
        val f = streamRound(r)
        freshness.synchronized(freshness += f)
      }
      mode match {
        case 0 if traced => tracer.spanOn = false; try round() finally tracer.spanOn = true; "round.untraced"
        case 1 => span("round.traced") { round() }; "round"
        case _ => round(); "round"
      }
    }
    val cpu = Proc.cpuNs - cpu0
    context("gc_ms") = Proc.gcMs - gc0
    reportLoop(ops, elapsed, cpu, Map("round" -> 1.0))
    val s1 = st.standIn.snapshot
    // rows embedded in the timed rounds: each refresh's delta plus each stream file
    val deltaRows = deltaCounts.drop(WarmRounds).sum + ops.count(_.ok) * StreamDocs.toLong
    context("freshness_ms") = freshness.toSeq
    context("delta_counts") = deltaCounts.toSeq

    checks("every refresh embedded exactly the changed rows") {
      val bad = deltaCounts.filter(_ != Updates + Inserts)
      if (bad.isEmpty) None else Some(s"delta counts ${deltaCounts.mkString(",")}")
    }
    checks("every stream marker became searchable") {
      if (ops.forall(_.ok)) None else Some(s"${ops.count(!_.ok)} rounds failed")
    }
    check(env, st, spark.read.schema(docSchema).parquet(srcPath, streamDir))
    if (traced) Layers.refresh(env, ops, s0, s1, deltaRows, freshness.toSeq, waits.toSeq.drop(WarmRounds))
    st.standIn.stop()
  }

  /** The stores hold exactly what the provider gives for the current
    * source: one embedding per row, equal to the stand-in's vector of
    * the rendered input, and the search tokens the pipeline renders.
    */
  def check(env: Env, st: Env.JobState, src: DataFrame): Unit = {
    import env._
    val e = st.engine
    checks("embeddings equal the provider's output for the current source") {
      val want = Pipeline.renderInputs(src, "id", Seq("body")).collect()
        .map(r => r.getString(0) -> st.standIn.provider.embedOne(r.getString(1))).toMap
      val got = e.store.read(embTable).select("pkey", "embeddings").collect()
        .map(r => r.getString(0) -> r.getSeq[Float](1).toArray)
      val wrong = got.count { case (k, v) => !want.get(k).exists(java.util.Arrays.equals(_, v)) }
      if (got.length != want.size) Some(s"${got.length} embeddings for ${want.size} rows")
      else if (wrong > 0) Some(s"$wrong embeddings differ")
      else None
    }
    checks("search tokens equal the rendered tokens of the current source") {
      val cols = Seq("pkey", "search_tokens", "search_token_counts")
      val want = Pipeline.renderSearchTokens(src, "id", Seq("body")).select(cols.map(col): _*)
      val got = e.store.read(tokTable).select(cols.map(col): _*)
      val missing = want.exceptAll(got).count(); val extra = got.exceptAll(want).count()
      if (missing + extra == 0) None else Some(s"$missing missing, $extra extra token rows")
    }
  }
}
