package graft

import graft.functions.GraftFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The engine-store dumps that the DuckDB oracles of the curate chains
  * read (`__AUX__/<name>.parquet` in `SparkEntry.oracleSql`), built the
  * way `Queries.dumpOracleAux` builds them for `graft.Verify`. Only the
  * four files these chains need are written: the full dump builds every
  * oracle's stores and takes longer than the benchmark's whole run. The
  * helpers are package-private, hence this file's package.
  */
object PerfbenchOracleAux {
  val Files: Seq[String] = Seq("langid_aux_weights", "langid_aux_icepts", "minhash_aux",
    "minhash_boil_aux")

  def dump(spark: SparkSession, dir: String, outDir: String, tmpDir: String): Unit = {
    import Queries._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m = langIdModel(spark, dir)
    writeSingleParquet(operators.LangId.weightsTable(spark, m),
      s"$outDir/langid_aux_weights.parquet")
    writeSingleParquet(operators.LangId.interceptsTable(spark, m),
      s"$outDir/langid_aux_icepts.parquet")
    writeSingleParquet(
      docs.select(col("doc_id"),
          array_distinct(shingles(col("text"), lit(minHashShingleN))).as("shingles"))
        .withColumn("sig", minHash(col("shingles"), lit(minHashNumHashes))),
      s"$outDir/minhash_aux.parquet")
    // the span-df store the boil chain cleans against, rebuilt over the
    // same documents with the chain's parameters
    val spanDf = new sources.ParquetStore(spark, tmpDir, nBuckets = 8, filesPerBucket = 1)
    operators.Dedup.buildSpanDfStore(spanDf, "span_df", docs, "doc_id", "text",
      spanTokens = spanDedupTokens)
    writeSingleParquet(
      operators.Dedup.boilerplateRemoveStored(spanDf, "span_df",
          docs.filter(col("doc_id") >= incrementalSplit && col("doc_id") < decontamNearDupSplit),
          "doc_id", "text", spanTokens = spanDedupTokens, minDocs = boilerplateMinDocs)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"),
          array_distinct(shingles(col("clean_text"), lit(minHashShingleN))).as("shingles"))
        .withColumn("sig", minHash(col("shingles"), lit(minHashNumHashes))),
      s"$outDir/minhash_boil_aux.parquet")
  }
}
