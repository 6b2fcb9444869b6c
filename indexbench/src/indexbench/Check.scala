package indexbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.jdk.CollectionConverters._

import graft.near.Warehouse

/** Output checks. The reference for every check is the batch path —
  * `Ingest.allTables` over the same blocks — so a check fails only
  * when the streamed warehouse (or a query over it) disagrees with the
  * program's own batch semantics.
  */
object Check {

  /** Row count plus an order-independent hash: the sum of per-row
    * xxhash64 over the columns in name order, each cast to string and
    * preceded by its null flag. `xxhash64` skips null inputs, so without
    * the flags rows (a = X, b = null) and (a = null, b = X) would hash
    * alike. The warehouse's `block_date` partition column is not part
    * of a table's content and is left out.
    */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.filterNot(_ == "block_date").sorted
      .flatMap(c => Seq(col(c).isNull, col(c).cast("string")))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast(DecimalType(38, 0))))
      .collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** The warehouse view of a table: registries fold their appended
    * deltas to the current state, as a reader of the warehouse must.
    */
  def warehouseView(spark: SparkSession, wh: String, name: String): Option[DataFrame] =
    Warehouse.tableOpt(spark, wh, name).map { df =>
      name match {
        case "accounts" => Warehouse.accountsCurrent(df)
        case "access_keys" => Warehouse.accessKeysCurrent(df)
        case _ => df
      }
    }

  /** Multiset equality of two query results. Explorer orders are not
    * total (rows tie on timestamp and index across shards), so row
    * order is not compared.
    */
  def sameRows(a: Array[Row], b: Array[Row]): Boolean = {
    def key(r: Row) = r.toSeq.map(String.valueOf).mkString("\u0001")
    a.map(key).sorted.toSeq == b.map(key).sorted.toSeq
  }

  /** The 17 warehouse tables. */
  val dataTables: Seq[String] = Seq("blocks", "chunks", "transactions",
    "transaction_actions", "receipts", "action_receipts",
    "action_receipt_actions", "action_receipt_input_data",
    "action_receipt_output_data", "data_receipts", "execution_outcomes",
    "execution_outcome_receipts", "accounts", "access_keys",
    "account_changes", "assets__fungible_token_events",
    "assets__non_fungible_token_events")

  /** (files, bytes) of the parquet data files under `dir`. */
  def filesAndBytes(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        val files = s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        var n = 0L
        var b = 0L
        while (files.hasNext) {
          val p = files.next()
          val f = p.getFileName.toString
          if (f.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p)) {
            n += 1
            b += java.nio.file.Files.size(p)
          }
        }
        (n, b)
      } finally s.close()
    }

  /** Files and bytes of the 17 live tables (not state or staging). */
  def warehouseFiles(wh: java.nio.file.Path): (Long, Long) =
    dataTables.map(t => filesAndBytes(wh.resolve(t)))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Block files per microbatch, from the file-source checkpoint log:
    * one `sources/0/<batch>` file per batch, one JSON line per file.
    */
  def filesPerBatch(checkpoint: java.nio.file.Path): Seq[Double] = {
    val log = checkpoint.resolve("sources").resolve("0")
    if (!java.nio.file.Files.isDirectory(log)) Seq.empty
    else {
      val s = java.nio.file.Files.list(log)
      try s.iterator().asScala.filter(_.getFileName.toString.forall(_.isDigit)).map { p =>
        java.nio.file.Files.readAllLines(p).asScala.count(_.contains("\"path\"")).toDouble
      }.toSeq
      finally s.close()
    }
  }

  def stateBytes(wh: java.nio.file.Path): Long =
    filesAndBytes(wh.resolve(graft.near.BatchCommit.StateDir))._2
}
