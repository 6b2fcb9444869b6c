package graft.near

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-time backfill joins (SURVEY J7) — the reference ran these as
  * SQL migrations (`UPDATE … FROM`); here they are plain joins that
  * produce the corrected table for overwrite. Only needed when
  * re-processing history indexed before the denormalizations existed;
  * the live transforms already emit the denormalized columns.
  */
object Backfill {

  /** 2021-04-28-154439: denormalize predecessor/receiver/timestamp
    * from `receipts` onto `action_receipt_actions`. Equi-join on the
    * receipt PK; at scale both sides shuffle on receipt_id once and
    * the join is 1:N with no skew (receipt_id is unique on the build
    * side).
    */
  def denormalizeActionReceiptActions(actions: DataFrame,
      receipts: DataFrame): DataFrame =
    actions
      .drop("receipt_predecessor_account_id", "receipt_receiver_account_id",
        "receipt_included_in_block_timestamp")
      .join(receipts.select(
          col("receipt_id"),
          col("predecessor_account_id").as("receipt_predecessor_account_id"),
          col("receiver_account_id").as("receipt_receiver_account_id"),
          col("included_in_block_timestamp")
            .as("receipt_included_in_block_timestamp")),
        Seq("receipt_id"))

  /** 2021-04-22-090505: stamp `shard_id` onto `execution_outcomes`
    * from the chunk that contained the receipt.
    */
  def backfillOutcomeShardId(outcomes: DataFrame, receipts: DataFrame,
      chunks: DataFrame): DataFrame =
    outcomes.drop("shard_id")
      .join(receipts.select(col("receipt_id"),
        col("included_in_chunk_hash").as("bf_chunk")), Seq("receipt_id"), "left")
      .join(chunks.select(col("chunk_hash").as("bf_chunk"),
        col("shard_id")), Seq("bf_chunk"), "left")
      .drop("bf_chunk")

  /** 2021-05-07-115559: embed `args_json` into historical FUNCTION_CALL
    * rows of `action_receipt_actions` — decode_or_null semantics
    * (invalid payloads become `{}`), `client.bridge.near` receivers
    * excluded, exactly like the migration's WHERE. Map-only; the
    * conversion is a native expression.
    */
  def convertArgsJson(actions: DataFrame): DataFrame = {
    val s = org.apache.spark.sql.SparkSession.active
    actions.withColumn("args",
      when(col("action_kind") === "FUNCTION_CALL" &&
          col("receipt_receiver_account_id") =!= "client.bridge.near",
        Strings.embedArgsJson(s, col("args")))
        .otherwise(col("args")))
  }
}
