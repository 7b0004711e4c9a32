package graft

import graft.providers.{DeterministicHashProvider, EmbeddingProvider}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-parity test fixtures (FIXTURES.md).
  *
  * `myProducts` replicates server/sql/example.sql:1-53 (40 rows; 9
  * electronics, exactly two rows priced 25.00 — the server filter
  * tests depend on those counts, server/tests/tests.rs:156-249).
  * `contentTable` replicates the minimal pizza/pencil/airplane table
  * (server/tests/util.rs:94-126) used by the semantic-ordering and
  * insert/update-freshness tests (server/tests/tests.rs:50-101).
  */
object Fixtures {

  val baseTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  def ts(plusSec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(baseTs.getTime + plusSec * 1000L)

  /** A timestamp guaranteed NEWER than any embedding write time —
    * updates must carry updated_at > the embedding's updated_at (which
    * is wall-clock at embed time) to be detected as stale, exactly as
    * the reference's NOW()-stamped updates are (server/tests/util.rs).
    */
  def futureTs(plusSec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2200-01-01 00:00:00").getTime + plusSec * 1000L)

  // (product_id, product_name, description, product_category, price)
  val productRows: Seq[(Int, String, String, String, Double)] = Seq(
    (1, "Pencil", "Utensil used for writing and often works best on paper", "stationery", 1.50),
    (2, "Laptop Stand", "Elevated platform for laptops, enhancing ergonomics", "electronics", 35.99),
    (3, "Desk Lamp", "Illumination device for workspaces, often adjustable", "furniture", 22.50),
    (4, "Bluetooth Speaker", "Portable audio device with wireless connectivity", "electronics", 99.99),
    (5, "Water Bottle", "Reusable container for liquids, often insulated", "kitchenware", 15.00),
    (6, "Backpack", "Storage solution for carrying personal items on ones back", "accessories", 45.00),
    (7, "Wireless Mouse", "Pointing device without the need for a physical connection", "electronics", 25.00),
    (8, "Plant Pot", "Container for holding plants, often with drainage", "garden", 12.00),
    (9, "Sunglasses", "Protective eyewear to shield eyes from UV rays", "accessories", 50.00),
    (10, "Notebook", "Bound sheets of paper for note-taking or sketching", "stationery", 3.99),
    (11, "Stylus Pen", "Tool for touchscreen devices, mimics finger touch", "electronics", 18.50),
    (12, "Travel Mug", "Insulated container for beverages on-the-go", "kitchenware", 10.99),
    (13, "Phone Charger", "Device to replenish the battery of mobile phones", "electronics", 20.00),
    (14, "Yoga Mat", "Cushioned surface for practicing yoga or exercise", "sports", 30.00),
    (15, "Wall Clock", "Time-telling device meant to hang on walls", "furniture", 15.50),
    (16, "Keychain", "Small device for holding keys together", "accessories", 5.00),
    (17, "Desk Organizer", "Tool for sorting and storing desk items", "furniture", 12.50),
    (18, "Earbuds", "Small headphones that fit directly inside the ear", "electronics", 49.99),
    (19, "Calendar", "Physical representation of days and months, often used for scheduling", "stationery", 10.00),
    (20, "Umbrella", "Protective gear against rain or intense sun", "accessories", 8.99),
    (21, "Hand Sanitizer", "Liquid or gel used to decrease infectious agents on hands", "personal care", 2.50),
    (22, "Sketchbook", "Paper-filled book used for drawing or painting", "stationery", 6.99),
    (23, "Flash Drive", "Portable storage device for digital files", "electronics", 12.00),
    (24, "Tablet Holder", "Stand or grip for holding tablets or e-readers", "electronics", 22.99),
    (25, "Shampoo", "Hair care product designed to cleanse the scalp and hair", "personal care", 7.50),
    (26, "Wristwatch", "Time-telling device worn around the wrist", "accessories", 120.00),
    (27, "Basketball", "Spherical sporting equipment used in basketball games", "sports", 20.00),
    (28, "Guitar Picks", "Small flat tool used to strum or pick a guitar", "music", 5.00),
    (29, "Thermal Flask", "Insulated bottle for keeping beverages hot or cold", "kitchenware", 18.99),
    (30, "Slippers", "Soft and light footwear intended for indoor use", "footwear", 10.00),
    (31, "Easel", "Upright support for artists to display or work on canvases", "art supplies", 45.00),
    (32, "Bicycle Helmet", "Protective headgear for cyclists", "sports", 35.00),
    (33, "Candle Holder", "Accessory to safely hold candles when they burn", "home decor", 15.00),
    (34, "Cutting Board", "Durable board on which to place materials for cutting", "kitchenware", 10.50),
    (35, "Gardening Gloves", "Handwear for protection during gardening tasks", "garden", 8.00),
    (36, "Alarm Clock", "Time-telling device with a feature to sound at a specified time", "electronics", 25.00),
    (37, "Spatula", "Flat tool used in cooking for flipping or spreading", "kitchenware", 3.99),
    (38, "Jigsaw Puzzle", "Picture printed on cardboard or wood and cut into pieces to be reassembled", "toys", 12.99),
    (39, "Hammock", "Sling made of fabric or netting, suspended between two points for relaxation", "outdoor", 40.00),
    (40, "Luggage Tag", "Accessory attached to luggage for identification purposes", "travel", 7.50)
  )

  def myProducts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    productRows.map { case (id, name, desc, cat, price) =>
      (id, name, desc, cat, price, ts(id.toLong))
    }.toDF("product_id", "product_name", "description", "product_category",
      "price", "updated_at")
  }

  /** (id, content, updated_at) — rows 'pizza', 'pencil', 'airplane'. */
  def contentTable(spark: SparkSession,
      rows: Seq[(Int, String, Long)] = Seq((1, "pizza", 1L), (2, "pencil", 2L), (3, "airplane", 3L))
  ): DataFrame = {
    import spark.implicits._
    rows.map { case (id, c, sec) => (id, c, ts(sec)) }
      .toDF("id", "content", "updated_at")
  }

  /** Append `rows` as one parquet file to the stream directory `dir`. */
  def writeStreamFile(rows: DataFrame, dir: String): Unit =
    rows.coalesce(1).write.mode("append").parquet(dir)

  /** One `Realtime.runAvailableNow` pass of `jobName` over the parquet
    * stream directory `dir` (rows of `schema`) from `checkpoint`; a
    * failed micro-batch rethrows here.
    */
  def streamPass(engine: VectorizeEngine, jobName: String,
      schema: org.apache.spark.sql.types.StructType, dir: String, checkpoint: String): Unit = {
    val q = graft.streaming.Realtime.runAvailableNow(engine, jobName,
      engine.spark.readStream.schema(schema).parquet(dir), checkpoint)
    require(q.awaitTermination(60000), "stream pass did not finish in time")
  }
}

/** Deterministic provider that counts every input it embeds, to prove
  * the write path calls the provider EXACTLY once per row (the
  * reference pays per API call; a double materialization would double
  * the bill — VectorizeEngine.applyDelta, which both refreshJob and
  * every realtime micro-batch run, persists for this reason).
  * The counter is a JVM-global (tests run local[*], one JVM).
  */
object CountingProvider {
  val embedded = new java.util.concurrent.atomic.AtomicLong(0)
}
final class CountingProvider(dim: Int = 64) extends EmbeddingProvider {
  private val inner = new DeterministicHashProvider(dim)
  override def modelDim(model: String): Int = inner.modelDim(model)
  override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
    CountingProvider.embedded.addAndGet(inputs.size)
    inner.generateEmbeddings(model, inputs)
  }
}

/** Deterministic provider that throws on its first call after
  * `FlakyProvider.failNext` is armed — a provider outage landing
  * between the write path's tokens MERGE and its vectors MERGE. The
  * flag is a JVM-global like CountingProvider's counter: each task
  * deserializes its own provider copy.
  */
object FlakyProvider {
  val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
}
final class FlakyProvider(dim: Int = 64) extends EmbeddingProvider {
  private val inner = new DeterministicHashProvider(dim)
  override def modelDim(model: String): Int = inner.modelDim(model)
  override def generateEmbeddings(model: String, inputs: Seq[String]): Seq[Array[Float]] = {
    if (FlakyProvider.failNext.getAndSet(false))
      throw new IllegalStateException("provider unavailable")
    inner.generateEmbeddings(model, inputs)
  }
}
