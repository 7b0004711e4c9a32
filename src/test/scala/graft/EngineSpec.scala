package graft

import graft.types._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end engine tests against the reference-parity fixtures —
  * mirrors server/tests/tests.rs:50-249 (semantic ordering, filter
  * counts, insert/update freshness) and the catalog/table-method
  * lifecycle (extension/tests/integration_tests.rs:154-202,
  * 1096-1462).
  */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def newEngine(wh: String = TestSpark.tempDir("graft_eng_"),
      provider: providers.EmbeddingProvider = new providers.DeterministicHashProvider(64))
      : VectorizeEngine =
    new VectorizeEngine(spark, wh, embeddingProviderOverride = Some(provider))

  private def productsJob(tableMethod: TableMethod = TableMethod.Join) = VectorizeJob(
    jobName = "products", srcTable = "my_products",
    srcColumns = Seq("product_name", "description"),
    primaryKey = "product_id", updateTimeCol = Some("updated_at"),
    model = Model.parseUnsafe("deterministic/hash-64"), tableMethod = tableMethod)

  test("hybrid search: 'camping backpack' ranks Backpack first (README example)") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val top = engine.hybridSearch("products", "camping backpack", limit = 1).collect()
    assert(top.length == 1)
    assert(top.head.getAs[String]("product_name") == "Backpack")
    assert(top.head.getAs[Double]("rrf_score") > 0.0)
  }

  test("source-format agnostic: JSON and CSV sources run the full job lifecycle") {
    import spark.implicits._
    // registerSource takes ANY DataFrame — where the reference
    // introspects a Postgres table, a Spark job points spark.read at
    // whatever format holds the corpus. Prove it end to end for the
    // two ubiquitous non-parquet formats: write the fixture out as
    // JSON and CSV, read back, createJob, search.
    val rows = Fixtures.myProducts(spark)
    val jsonDir = TestSpark.tempDir("graft_src_json_")
    val csvDir = TestSpark.tempDir("graft_src_csv_")
    rows.write.mode("overwrite").json(jsonDir)
    rows.write.mode("overwrite").option("header", "true").csv(csvDir)
    def check(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val engine = newEngine()
      engine.registerSource("my_products", df)
      engine.createJob(productsJob())
      val top = engine.hybridSearch("products", "camping backpack", limit = 1)
        .collect()
      assert(top.length == 1 &&
        top.head.getAs[String]("product_name") == "Backpack",
        s"$name-sourced job must rank Backpack first (README example)")
    }
    check("json", spark.read.json(jsonDir)
      .withColumn("product_id", col("product_id").cast("long"))
      .withColumn("updated_at", col("updated_at").cast("timestamp")))
    check("csv", spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csvDir)
      .withColumn("updated_at", col("updated_at").cast("timestamp")))
  }

  test("IndexDist hint: hnsw flavors build graph indexes, diskann builds IVF") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val qv = engine.encode("products", "camping backpack")
    // exact leg = ground truth (hint docs: exact ⊇ ANN recall)
    val exact = engine.search("products", "camping backpack", limit = 5)
      .select(col("product_id").cast("long")).collect().map(_.getLong(0)).toSet

    val hnswPath = TestSpark.tempDir("graft_eng_hnsw_")
    engine.buildVectorIndex("products", hnswPath) // default pgv_hnsw_cosine
    assert(new java.io.File(s"$hnswPath/graph").exists(),
      "pgv_hnsw_* must build the graph index layout")
    val viaHnsw = engine.probeVectorIndex("products", hnswPath, qv, 5)
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(viaHnsw.intersect(exact).size >= 4,
      s"hnsw probe must recover the exact top-5 (got $viaHnsw vs $exact)")

    val ivfPath = TestSpark.tempDir("graft_eng_ivf_")
    engine.createJob(productsJob().copy(jobName = "products_diskann",
      indexDist = IndexDist.VscDiskannCos))
    engine.buildVectorIndex("products_diskann", ivfPath)
    assert(new java.io.File(s"$ivfPath/centroids").exists(),
      "vsc_diskann_cosine must build the IVF layout (documented substitution)")

    // incremental maintenance keeps the probe working after a refresh
    engine.upsertVectorIndex("products", hnswPath,
      engine.projectView("products")
        .select(col("product_id").cast("string").as("pkey"), col("embeddings"))
        .limit(3))
    val after = engine.probeVectorIndex("products", hnswPath, qv, 5)
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(after == viaHnsw, "unchanged vectors must probe identically after upsert")
  }

  test("filters: electronics=9 rows, price eq.25=2 rows, gte.25 limit 5=5 rows") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val electronics = engine.search("products", "device", limit = 40,
      filters = Map("product_category" -> FilterValue.parse("eq.electronics").toOption.get))
    assert(electronics.count() == 9)

    val price25 = engine.search("products", "device", limit = 40,
      filters = Map("price" -> FilterValue.parse("eq.25").toOption.get)).collect()
    assert(price25.length == 2)
    assert(price25.map(_.getAs[String]("product_name")).toSet ==
      Set("Wireless Mouse", "Alarm Clock"))

    val gte25 = engine.search("products", "device", limit = 5,
      filters = Map("price" -> FilterValue.parse("gte.25").toOption.get))
    assert(gte25.count() == 5)
  }

  test("selective post-filter still returns limit rows (full-ranking parity)") {
    // With limit=1 the capped window would be 5; neither 25.00-priced
    // product is in the global top-5 for this query, so the
    // pre-advice code returned 0 rows. The reference ranks the whole
    // table before filtering (core/src/query.rs:653-699) — so must we.
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val got = engine.search("products", "camping backpack", limit = 1,
      filters = Map("price" -> FilterValue.parse("eq.25").toOption.get)).collect()
    assert(got.length == 1)
    assert(Set("Wireless Mouse", "Alarm Clock")
      .contains(got.head.getAs[String]("product_name")))
  }

  test("searchIndexed: post-filter semantics — window recall, honest deficiency") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val idx = TestSpark.tempDir("graft_eng_sidx_")
    engine.buildVectorIndex("products", idx)
    // unfiltered: agrees with the probe itself
    val plain = engine.searchIndexed("products", idx, "camping backpack", limit = 5)
      .select(col("product_id").cast("long")).collect().map(_.getLong(0)).toSet
    val probe = engine.probeVectorIndex("products", idx,
        engine.encode("products", "camping backpack"), 5)
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(plain == probe)
    // filtered with a window that covers the corpus (limit=8 → window
    // 40): the post-ANN filter finds both 25.00-priced products
    val filtered = engine.searchIndexed("products", idx, "camping backpack",
      limit = 8, filters = Map("price" -> FilterValue.parse("eq.25").toOption.get))
      .collect()
    assert(filtered.map(_.getAs[String]("product_name")).toSet ==
      Set("Wireless Mouse", "Alarm Clock"))
    // the semantics stay POST-filter (reference index-scan behavior,
    // core/src/query.rs:686-699): with limit=1 the window is 5, and
    // neither 25.00-priced product ranks in this query's top-5 — the
    // filtered result is honestly EMPTY, never a full-table fallback
    // behind the index's back (the scan path's full-ranking parity
    // test above shows the contrast: search() returns 1 row here)
    val deficient = engine.searchIndexed("products", idx, "camping backpack",
      limit = 1, filters = Map("price" -> FilterValue.parse("eq.25").toOption.get))
    assert(deficient.collect().isEmpty,
      "post-filter past the window must honestly return fewer rows")
  }

  test("semantic ordering + insert/update freshness (content table)") {
    val engine = newEngine()
    engine.registerSource("content", Fixtures.contentTable(spark))
    engine.createJob(VectorizeJob("content_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64")))

    val food = engine.search("content_job", "food").collect()
    assert(food.length == 3)
    assert(food.head.getAs[String]("content") == "pizza")
    assert(food.head.getAs[Double]("similarity_score") > 0.5)

    val writing = engine.search("content_job", "writing utensil", limit = 1).collect()
    assert(writing.head.getAs[String]("content") == "pencil")

    // insert: new row appears after a refresh
    engine.registerSource("content", Fixtures.contentTable(spark,
      Seq((1, "pizza", 1L), (2, "pencil", 2L), (3, "airplane", 3L),
        (4, "apples and apple trees", 10L))))
    engine.refreshJob("content_job")
    val apples = engine.search("content_job", "apples", limit = 1).collect()
    assert(apples.head.getAs[String]("content") == "apples and apple trees")

    // update: changed row (updated_at newer than its embedding's
    // write time — like the reference's NOW()-stamped update) re-embeds
    import spark.implicits._
    engine.registerSource("content",
      Seq((1, "a space shuttle is a device for storing and transporting astronauts", Fixtures.futureTs(0)),
        (2, "pencil", Fixtures.ts(2)), (3, "airplane", Fixtures.ts(3)),
        (4, "apples and apple trees", Fixtures.ts(10)))
        .toDF("id", "content", "updated_at"))
    engine.refreshJob("content_job")
    val astro = engine.search("content_job", "astronauts", limit = 1).collect()
    assert(astro.head.getAs[Int]("id") == 1)
  }

  test("legacy token table (no counts column) upgrades on refresh and stays searchable") {
    import spark.implicits._
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    // simulate a pre-counts warehouse: rewrite the token table WITHOUT
    // search_token_counts (the schema every merge before this round wrote)
    val tok = engine.store.read(engine.tokTable("products"))
      .select("pkey", "search_tokens", "updated_at")
    val legacy = tok.collect().map(r => (r.getString(0),
      r.getSeq[String](1), r.getTimestamp(2))).toSeq
      .toDF("pkey", "search_tokens", "updated_at")
    engine.store.drop(engine.tokTable("products"))
    engine.store.merge(engine.tokTable("products"), legacy, "pkey")
    // hybrid search must work on the legacy table (count-1 fallback)...
    val legacyHit = engine.hybridSearch("products", "camping backpack", limit = 1)
    assert(legacyHit.collect().head.getAs[String]("product_name") == "Backpack")
    // ...and a refresh (new-column merge) must surface the counts
    // column without dropping it, after which search still works
    engine.registerSource("my_products", Fixtures.myProducts(spark)
      .withColumn("updated_at", lit(Fixtures.futureTs(0))))
    engine.refreshJob("products")
    val upgraded = engine.store.read(engine.tokTable("products"))
    assert(upgraded.columns.contains("search_token_counts"),
      "refresh must widen the legacy token table")
    assert(upgraded.filter(col("search_token_counts").isNotNull).count() ==
      upgraded.count(), "all rows re-rendered → all counts populated")
    val hit = engine.hybridSearch("products", "camping backpack", limit = 1)
    assert(hit.collect().head.getAs[String]("product_name") == "Backpack")
  }

  test("refresh embeds each row exactly once (no double materialization)") {
    CountingProvider.embedded.set(0)
    val engine = newEngine(provider = new CountingProvider(64))
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    assert(CountingProvider.embedded.get() == 40,
      s"expected exactly 40 embed calls, got ${CountingProvider.embedded.get()}")
    // steady state: nothing stale → zero provider calls
    engine.refreshJob("products")
    assert(CountingProvider.embedded.get() == 40)
    // incremental: one changed row (stamped newer than its embedding)
    // → exactly one more call
    val bumped = Fixtures.myProducts(spark)
      .withColumn("updated_at",
        when(col("product_id") === 1, lit(Fixtures.futureTs(0))).otherwise(col("updated_at")))
    engine.registerSource("my_products", bumped)
    engine.refreshJob("products")
    assert(CountingProvider.embedded.get() == 41,
      s"one stale row must cost exactly one embed call, got ${CountingProvider.embedded.get() - 40}")
    // a realtime micro-batch runs the same write path: N streamed rows
    // → exactly N provider inputs
    val streamed = Fixtures.myProducts(spark).filter(col("product_id") <= 3)
    val dir = TestSpark.tempDir("graft_eng_stream_")
    Fixtures.writeStreamFile(streamed, dir)
    Fixtures.streamPass(engine, "products", streamed.schema, dir,
      TestSpark.tempDir("graft_eng_ckpt_"))
    assert(CountingProvider.embedded.get() == 44,
      s"3 streamed rows must cost exactly 3 embed calls, got ${CountingProvider.embedded.get() - 41}")
  }

  test("cron schedule: JobScheduler refreshes a due job with no explicit refreshJob (R6)") {
    val engine = newEngine()
    engine.registerSource("content", Fixtures.contentTable(spark))
    engine.createJob(VectorizeJob("sched_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"),
      schedule = "*/1 * * * *"))
    // new row lands AFTER the creation backfill
    engine.registerSource("content", Fixtures.contentTable(spark,
      Seq((1, "pizza", 1L), (2, "pencil", 2L), (3, "airplane", 3L),
        (4, "astronauts in orbit", 10L))))
    var now = java.time.ZonedDateTime.of(2026, 1, 5, 10, 30, 0, 0,
      java.time.ZoneOffset.UTC)
    val sched = new streaming.JobScheduler(engine, () => now)
    assert(sched.runDue() == Seq("sched_job"))
    // the scheduler's refresh made the new row searchable
    val astro = engine.search("sched_job", "astronauts", limit = 1).collect()
    assert(astro.head.getAs[Int]("id") == 4)
    // cron fires at most once per matching minute...
    assert(sched.runDue().isEmpty)
    now = now.plusSeconds(20)
    assert(sched.runDue().isEmpty)
    // ...and again on the next one
    now = now.plusSeconds(40)
    assert(sched.runDue() == Seq("sched_job"))
  }

  test("refreshCatalog: cross-engine create/delete propagates without restart (R8)") {
    val wh = TestSpark.tempDir("graft_r8_")
    val writer = newEngine(wh)
    val reader = newEngine(wh) // second engine over the SAME warehouse
    writer.registerSource("content", Fixtures.contentTable(spark))
    writer.createJob(VectorizeJob("r8_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"),
      schedule = "manual"))
    // reader's construction-time view predates the job
    assert(!reader.listJobs.exists(_.jobName == "r8_job"))
    reader.refreshCatalog()
    assert(reader.listJobs.exists(_.jobName == "r8_job"),
      "a job created by another engine must appear after refreshCatalog")
    // prompt registration propagates the same way
    writer.registerPrompt("r8_task", "sys", "user: {{ context }} {{ question }}")
    reader.refreshCatalog()
    assert(reader.listPrompts.contains("r8_task"))
    // deletion propagates (the in-memory view is REPLACED, not merged)
    writer.deleteJob("r8_job")
    reader.refreshCatalog()
    assert(!reader.listJobs.exists(_.jobName == "r8_job"),
      "a job deleted by another engine must disappear after refreshCatalog")
  }

  test("cron schedule: one failing job does not starve the other due jobs") {
    val engine = newEngine()
    engine.registerSource("content", Fixtures.contentTable(spark))
    engine.registerSource("content2", Fixtures.contentTable(spark))
    def job(name: String, src: String) = VectorizeJob(name, src, Seq("content"),
      "id", Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"),
      schedule = "*/1 * * * *")
    // "a_broken" sorts before "b_ok", so a propagated failure would
    // starve the healthy job
    engine.createJob(job("a_broken", "content"))
    engine.createJob(job("b_ok", "content2"))
    // break a_broken's source: its content column disappears
    import spark.implicits._
    engine.registerSource("content",
      Seq((1, 1L)).toDF("id", "updated_at"))
    // stale row so both jobs have work
    engine.registerSource("content2", Fixtures.contentTable(spark,
      Seq((1, "pizza", 1L), (4, "astronauts in orbit", 10L))))
    val sched = new streaming.JobScheduler(engine,
      () => java.time.ZonedDateTime.of(2026, 1, 5, 10, 30, 0, 0,
        java.time.ZoneOffset.UTC))
    assert(sched.runDue() == Seq("b_ok"),
      "the healthy job must refresh even though a_broken throws first")
    assert(engine.search("b_ok", "astronauts", limit = 1)
      .collect().head.getAs[Int]("id") == 4)
  }

  test("schedule modes: garbage rejected at creation; realtime/manual never cron-fire") {
    val engine = newEngine()
    engine.registerSource("content", Fixtures.contentTable(spark))
    def job(name: String, sch: String) = VectorizeJob(name, "content", Seq("content"),
      "id", Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"),
      schedule = sch)
    val bad1 = intercept[IllegalArgumentException] {
      engine.createJob(job("j_bad", "every 5 minutes"))
    }
    assert(bad1.getMessage.contains("invalid schedule"))
    val bad2 = intercept[IllegalArgumentException] {
      engine.createJob(job("j_bad2", "61 * * * *"))
    }
    assert(bad2.getMessage.contains("invalid schedule"))
    assert(engine.listJobs.isEmpty) // nothing half-created
    engine.createJob(job("j_rt", "realtime"))
    engine.createJob(job("j_manual", "manual"))
    val sched = new streaming.JobScheduler(engine,
      () => java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    assert(sched.runDue().isEmpty)
  }

  test("chunk_table writes (original_id, chunk_index, chunk) to the warehouse (F7)") {
    val engine = newEngine()
    engine.registerSource("content", Fixtures.contentTable(spark))
    val out = engine.chunkTable("content", "content", "id",
      maxChunkSize = 10, outputTable = "content_chunks").collect()
    assert(engine.store.exists("content_chunks"))
    assert(out.nonEmpty)
    assert(out.map(_.schema.fieldNames.toSeq).head ==
      Seq("original_id", "chunk_index", "chunk"))
    // every chunk respects the budget and indexes are dense from 0
    assert(out.forall(_.getAs[String]("chunk").length <= 10))
    out.groupBy(_.getAs[Int]("original_id")).foreach { case (_, ch) =>
      assert(ch.map(_.getAs[Int]("chunk_index")).sorted.toSeq == (0 until ch.length))
    }
    // "apples and apple trees"-free fixture: 3 rows, pizza/pencil/airplane
    // each ≤ 10 chars → exactly one chunk per row
    assert(out.length == 3)
    // idempotent re-chunk (overwrite, not INSERT-append)
    val again = engine.chunkTable("content", "content", "id",
      maxChunkSize = 10, outputTable = "content_chunks").collect()
    assert(again.length == out.length)
    intercept[IllegalArgumentException](
      engine.chunkTable("nope", "content", "id"))
    intercept[IllegalArgumentException](
      engine.chunkTable("content", "content", "id", maxChunkSize = 0))
  }

  test("custom prompt templates persist: restart engine renders the registered task") {
    val wh = TestSpark.tempDir("graft_eng_")
    val e1 = newEngine(wh)
    e1.registerSource("content", Fixtures.contentTable(spark))
    e1.createJob(VectorizeJob("p_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64")))
    e1.registerPrompt("summarize_ctx",
      "You are a summarizer.",
      "SUMMARIZE_MARKER {{context_str}} | Q: {{query_str}}")
    // fresh engine over the same warehouse — jobs AND prompts reload
    val e2 = newEngine(wh)
    e2.registerSource("content", Fixtures.contentTable(spark))
    assert(e2.listPrompts == Seq("summarize_ctx"))
    val out = e2.rag("p_job", "food", task = "summarize_ctx", numContext = 1).collect()
    // the deterministic chat provider echoes the rendered user prompt,
    // so the custom template's marker proves which template rendered
    assert(out.head.getAs[String]("chat_response").contains("SUMMARIZE_MARKER"))
    // unknown tasks still error (no silent fallback)
    intercept[IllegalArgumentException](e2.rag("p_job", "food", task = "nope"))
  }

  test("catalog reload: a new engine over the warehouse recovers jobs (S9/R8)") {
    val wh = TestSpark.tempDir("graft_eng_")
    val e1 = newEngine(wh)
    e1.registerSource("my_products", Fixtures.myProducts(spark))
    e1.createJob(productsJob())

    val e2 = newEngine(wh) // fresh engine, same warehouse — restart
    assert(e2.listJobs.map(_.jobName) == Seq("products"))
    assert(e2.job("products").get.srcColumns == Seq("product_name", "description"))
    e2.registerSource("my_products", Fixtures.myProducts(spark))
    val top = e2.hybridSearch("products", "camping backpack", limit = 1).collect()
    assert(top.head.getAs[String]("product_name") == "Backpack")
  }

  test("append table method: inline embeddings, incremental refresh, restart") {
    import spark.implicits._
    CountingProvider.embedded.set(0)
    val wh = TestSpark.tempDir("graft_eng_")
    val engine = newEngine(wh, provider = new CountingProvider(64))
    engine.registerSource("content", Fixtures.contentTable(spark))
    engine.createJob(VectorizeJob("append_job", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64"),
      tableMethod = TableMethod.Append))
    assert(CountingProvider.embedded.get() == 3)

    // steady state BEFORE any search (each search embeds its query
    // string through the provider too): no stale rows → no row embeds
    engine.refreshJob("append_job")
    assert(CountingProvider.embedded.get() == 3)

    val food = engine.search("append_job", "food", limit = 1).collect()
    assert(food.head.getAs[String]("content") == "pizza")

    // one updated row (future-stamped) → exactly one re-embed
    val updatedRows =
      Seq((1, "a space shuttle carries astronauts", Fixtures.futureTs(0)),
        (2, "pencil", Fixtures.ts(2)), (3, "airplane", Fixtures.ts(3)))
        .toDF("id", "content", "updated_at")
    engine.registerSource("content", updatedRows)
    val before = CountingProvider.embedded.get()
    engine.refreshJob("append_job")
    assert(CountingProvider.embedded.get() == before + 1,
      "exactly one stale row must be re-embedded")
    val astro = engine.search("append_job", "astronauts", limit = 1).collect()
    assert(astro.head.getAs[Int]("id") == 1)

    // restart over same warehouse: append job + its store survive
    val e2 = newEngine(wh, provider = new CountingProvider(64))
    assert(e2.job("append_job").get.tableMethod == TableMethod.Append)
    e2.registerSource("content", updatedRows)
    val astro2 = e2.search("append_job", "astronauts", limit = 1).collect()
    assert(astro2.head.getAs[Int]("id") == 1)

    // a realtime micro-batch runs the same write path: N streamed rows
    // (one update, one insert) → exactly N provider inputs
    val streamed = Seq((2, "pencil sharpener", Fixtures.futureTs(1)),
      (4, "apples and apple trees", Fixtures.futureTs(2))).toDF("id", "content", "updated_at")
    val dir = TestSpark.tempDir("graft_eng_stream_")
    Fixtures.writeStreamFile(streamed, dir)
    val beforeStream = CountingProvider.embedded.get()
    Fixtures.streamPass(e2, "append_job", streamed.schema, dir,
      TestSpark.tempDir("graft_eng_ckpt_"))
    assert(CountingProvider.embedded.get() == beforeStream + 2,
      "2 streamed rows must cost exactly 2 embed calls")
    assert(e2.store.read("_append_append_job")
      .filter(col("pkey") === "4" && col("embeddings").isNotNull).count() == 1,
      "the streamed insert must land in the wide table")
  }

  test("delete job is idempotent and survives restart") {
    val wh = TestSpark.tempDir("graft_eng_")
    val engine = newEngine(wh)
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    engine.deleteJob("products")
    engine.deleteJob("products") // second delete: no-op, like cleanup_job
    assert(engine.listJobs.isEmpty)
    val e2 = newEngine(wh)
    assert(e2.listJobs.isEmpty, "deleted job must not resurrect on reload")
  }

  test("project view exposes embeddings next to source columns") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val view = engine.projectView("products")
    assert(view.count() == 40)
    assert(view.columns.contains("embeddings"))
    assert(view.columns.contains("embeddings_updated_at"))
    assert(view.select(size(col("embeddings"))).head().getInt(0) == 64)
  }

  test("searchJson returns to_jsonb-style rows (P8)") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val rows = engine.searchJson("products", "camping backpack", limit = 2).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val json = r.getAs[String]("results")
      assert(json.startsWith("{") && json.contains("\"product_name\"") &&
        json.contains("\"similarity_score\""))
    }
  }

  test("zero-vector rows never rank: null cosine is filtered, not NULLS-FIRST") {
    import spark.implicits._
    // pkey 2 carries a zero vector → cosine is null → asc ordering
    // would put it at rank 1 without the isNotNull filter
    val emb = Seq(
      ("1", Array(1.0f, 0.0f)), ("2", Array(0.0f, 0.0f)), ("3", Array(0.0f, 1.0f)))
      .toDF("pkey", "embeddings")
    val leg = operators.Search.semanticLeg(emb, Array(1.0f, 0.0f), windowSize = 10)
      .collect()
    assert(leg.head.getAs[String]("pkey") == "1")
    assert(!leg.map(_.getAs[String]("pkey")).contains("2"),
      "the zero-vector row must not appear in the ranked leg")
    assert(leg.head.getAs[Int]("semantic_rank") == 1)
  }

  test("search over a job whose backfill embedded zero rows returns empty") {
    val engine = newEngine()
    engine.registerSource("content", Fixtures.contentTable(spark, Seq.empty))
    engine.createJob(VectorizeJob("emptyjob", "content", Seq("content"), "id",
      Some("updated_at"), Model.parseUnsafe("deterministic/hash-64")))
    assert(engine.search("emptyjob", "anything").collect().isEmpty)
    assert(engine.hybridSearch("emptyjob", "anything").collect().isEmpty)
  }

  test("cosine over mismatched dimensions errors instead of truncating") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(functions.GraftFunctions.cosineSimilarity(col("a"), col("b"))).collect()
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("different vector dimensions")) ||
        mentions(t.getCause))
    assert(mentions(e), s"unexpected error: $e")
  }

  test("where_sql: raw predicate filters post-ranking like typed filters (P5)") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val got = engine.search("products", "electronics", limit = 5,
      whereSql = Some("price >= 25 AND product_category = 'electronics'")).collect()
    assert(got.nonEmpty)
    assert(got.forall { r =>
      r.getAs[Double]("price") >= 25 &&
        r.getAs[String]("product_category") == "electronics"
    })
  }

  test("provider config: job params api_key/base_url, ${VAR} interpolation (F11)") {
    val engine = new VectorizeEngine(spark, TestSpark.tempDir("graft_eng_"))
    val job = productsJob().copy(
      model = Model.parseUnsafe("openai/text-embedding-3-small"),
      params = Map("base_url" -> "http://h/v1", "api_key" -> "k-${PATH}"))
    // PATH always resolves; construction must succeed with params applied
    assert(engine.provider(job).isInstanceOf[providers.OpenAICompatProvider])
    val bad = job.copy(params = Map("api_key" -> "${GRAFT_NO_SUCH_VAR_123}"))
    val e = intercept[IllegalArgumentException](engine.provider(bad))
    assert(e.getMessage.contains("GRAFT_NO_SUCH_VAR_123"))
  }

  test("job params survive engine restart (catalog round-trips provider config)") {
    val wh = TestSpark.tempDir("graft_eng_")
    val engine = newEngine(wh)
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob().copy(
      params = Map("base_url" -> "http://h/v1", "api_key" -> "k")))
    val reloaded = new VectorizeEngine(spark, wh,
      embeddingProviderOverride = Some(new providers.DeterministicHashProvider(64)))
    assert(reloaded.job("products").get.params ==
      Map("base_url" -> "http://h/v1", "api_key" -> "k"))
  }

  test("re-creating a job with a different model drops the old vectors") {
    CountingProvider.embedded.set(0)
    val engine = newEngine(provider = new CountingProvider(64))
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    assert(CountingProvider.embedded.get() == 40)
    // same name, SAME config: idempotent re-create keeps the backfill
    engine.createJob(productsJob())
    assert(CountingProvider.embedded.get() == 40,
      "same-config re-create must not re-embed")
    // same name, different model: the old stores must drop, so the
    // backfill re-embeds every row (the injected provider is model-
    // blind — the call count is the observable proof of the drop)
    engine.createJob(productsJob().copy(
      model = Model.parseUnsafe("deterministic/hash-32")))
    assert(CountingProvider.embedded.get() == 80,
      s"model change must re-embed all 40 rows, got ${CountingProvider.embedded.get() - 40}")
    assert(engine.search("products", "camping backpack", 1).collect().nonEmpty)
  }

  test("import embeddings into an append-method job lands in the wide table") {
    import spark.implicits._
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    val job = productsJob(TableMethod.Append).copy(jobName = "products_app")
    // external vectors for every product: import-then-create must not
    // re-embed (the import satisfies the backfill delta scan)
    val ids = Fixtures.myProducts(spark).select("product_id").collect().map(_.getInt(0))
    val external = ids.map(i => (i, Array.fill(64)(0.1f).toSeq)).toSeq.toDF("pid", "vec")
    engine.createJobFromExisting(job, external, "pid", "vec")
    assert(!engine.store.exists("_embeddings_products_app"),
      "append-method import must not create the join-method table")
    val served = engine.projectView("products_app").select("embeddings").collect()
    assert(served.nonEmpty && served.forall(r => r.getSeq[Float](0).forall(_ == 0.1f)),
      "search must serve the imported vectors, not re-embedded ones")
    // imported rows must be lexically searchable too: with identical
    // imported vectors the semantic leg ties, so the hit below can
    // only come from the FTS leg over tokens written at import time
    val hits = engine.hybridSearch("products_app", "backpack", limit = 3).collect()
    assert(hits.exists(_.getAs[String]("product_name") == "Backpack"),
      "FTS leg must rank rows whose vectors were imported, not embedded")
  }

  test("prompt template: substituted values are never re-scanned (no injection)") {
    val r = rag.PromptTemplates.render("question_answer",
      "doc body with literal {{query_str}} inside", "THE-QUERY")
    assert(r.userPrompt.contains("doc body with literal {{query_str}} inside"),
      "placeholder text inside retrieved context must stay literal")
    assert(r.userPrompt.contains("Query: THE-QUERY"))
  }

  test("import embeddings: only missing keys copied (J4 anti-join)") {
    val engine = newEngine()
    engine.registerSource("my_products", Fixtures.myProducts(spark))
    engine.createJob(productsJob())
    val before = engine.store.read("_embeddings_products")
      .select("pkey", "embeddings").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    // import claims keys 1..40 with zero-vectors; all exist → no-op
    import spark.implicits._
    val external = (1 to 40).map(i => (i, Array.fill(64)(0.0f).toSeq)).toDF("pid", "vec")
    engine.importEmbeddings("products", external, "pid", "vec")
    val after = engine.store.read("_embeddings_products")
      .select("pkey", "embeddings").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(after == before, "existing embeddings must not be overwritten by import")
  }
}
