package graft.near

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}

/** Ingestion entry points: raw block-JSON documents → Dataset[NormBlock].
  *
  * Batch: one JSON file per block (the NEAR Lake layout,
  * `indexer/src/main.rs:243-259`), read with wholetext so a block maps
  * to exactly one row regardless of pretty-printing. The parse runs
  * distributed inside mapPartitions-style Dataset.map — the driver
  * never touches block contents.
  */
object Ingest {

  implicit val normBlockEncoder: Encoder[NormBlock] = Encoders.product[NormBlock]

  /** Parse whole-file block documents, one per row of `docs`' `value`
    * column — the one parse behind the batch read, each streaming
    * microbatch and the runbook's re-index.
    */
  def parse(docs: DataFrame): Dataset[NormBlock] =
    docs.select("value").as[String](Encoders.STRING).map(BlockParser.parse _)

  /** Batch: parse every *.json block file under `path`. */
  def blocks(spark: SparkSession, path: String): Dataset[NormBlock] =
    parse(spark.read.option("wholetext", "true").text(path))

  /** In-memory (fixtures / tests): parse the given JSON documents. */
  def blocksFromJson(spark: SparkSession, jsons: Seq[String]): Dataset[NormBlock] = {
    import spark.implicits._
    spark.createDataset(jsons).map(BlockParser.parse _)
  }

  /** All 17 output tables from a normalized block set, with lineage
    * resolved: the stream's DAG ([[Stream.dag]]) with no carried state
    * and no warehouse fallback. Building the map runs the fork probe
    * and the lineage fixpoint; the shared bases are materialised by the
    * first job that reads them (see [[Stream.dag]]), so a handle is good
    * for one batch's lifetime, not across executor loss.
    */
  def allTables(norm: DataFrame): Map[String, DataFrame] =
    Stream.dag(norm, norm.agg(Stream.forkTest).head().getBoolean(0),
      Map.empty).tables
}
