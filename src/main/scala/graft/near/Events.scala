package graft.near

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** NEP-141 (FT) / NEP-171 (NFT) event extraction from execution-outcome
  * logs (`database/src/adapters/assets/events.rs:90-115`,
  * `event_types.rs`): trim, keep "EVENT_JSON:" logs, parse the tagged
  * envelope, drop events that don't deserialize (decode-or-skip), then
  * flatten per-kind data arrays into rows with a dense per-shard
  * ordinal.
  */
object Events {

  private val D20 = DecimalType(20, 0)

  /** Unified NearEvent envelope schema (event_types.rs unions). */
  val eventSchema: StructType = StructType(Seq(
    StructField("standard", StringType),
    StructField("version", StringType),
    StructField("event", StringType),
    StructField("data", ArrayType(StructType(Seq(
      StructField("owner_id", StringType),
      StructField("old_owner_id", StringType),
      StructField("new_owner_id", StringType),
      StructField("amount", StringType),
      StructField("memo", StringType),
      StructField("authorized_id", StringType),
      StructField("token_ids", ArrayType(StringType)))))),
  ))

  /** escape_default as a native Catalyst expression (no UDF in the
    * events path); registration binds to the plan-construction-time
    * active session.
    */
  private def esc(c: Column): Column =
    Strings.escapeDefault(
      org.apache.spark.sql.SparkSession.active, coalesce(c, lit("")))

  /** Parsed EVENT_JSON logs joined with their outcome context: one row
    * per (outcome, log) that parsed into a NearEvent envelope.
    */
  def parsedEvents(norm: DataFrame): DataFrame =
    norm.select(col("blockHash"), d20col("blockTimestamp"),
        explode(col("outcomes")).as("o"))
      .filter(col("o.receipt").isNotNull)
      .select(col("blockHash"), col("emitted_at_block_timestamp"),
        col("o.shardId").as("shard_id"),
        col("o.indexInChunk").as("outcome_index"),
        col("o.receipt.receiptId").as("emitted_for_receipt_id"),
        col("o.receipt.receiverAccountId").as("contract_id"),
        posexplode(col("o.logs")).as(Seq("log_pos", "log")))
      .withColumn("log", trim(col("log")))
      .filter(col("log").startsWith("EVENT_JSON:"))
      .withColumn("ev", from_json(trim(expr("substring(log, 12)")), eventSchema))
      .filter(col("ev").isNotNull && col("ev.standard").isNotNull &&
        col("ev.event").isNotNull && col("ev.data").isNotNull)

  private def d20col(name: String): Column =
    col(name).cast(D20).as("emitted_at_block_timestamp")

  /** assets__fungible_token_events
    * (fungible_token_events.rs:48-138): one row per data entry; the
    * per-shard ordinal counts FT rows in (outcome, log, entry) order.
    */
  def ftEvents(norm: DataFrame): DataFrame = {
    val base = parsedEvents(norm)
      .filter(col("ev.standard") === "nep141" &&
        col("ev.event").isin("ft_mint", "ft_transfer", "ft_burn"))
      // serde rejects the whole event if any entry misses required
      // fields (event_types.rs struct fields are non-Option)
      .filter(
        when(col("ev.event") === "ft_mint",
          forall(col("ev.data"), d => d("owner_id").isNotNull && d("amount").isNotNull))
        .when(col("ev.event") === "ft_transfer",
          forall(col("ev.data"), d => d("old_owner_id").isNotNull &&
            d("new_owner_id").isNotNull && d("amount").isNotNull))
        .otherwise(
          forall(col("ev.data"), d => d("owner_id").isNotNull && d("amount").isNotNull)))
      .select(col("*"), posexplode(col("ev.data")).as(Seq("entry_pos", "d")))
    val w = Window.partitionBy(col("blockHash"), col("shard_id"))
      .orderBy(col("outcome_index"), col("log_pos"), col("entry_pos"))
    base.withColumn("emitted_index_of_event_entry_in_shard",
        (row_number().over(w) - 1))
      .select(
        col("emitted_for_receipt_id"),
        col("emitted_at_block_timestamp"),
        col("shard_id").cast(D20).as("emitted_in_shard_id"),
        col("emitted_index_of_event_entry_in_shard"),
        col("contract_id").as("emitted_by_contract_account_id"),
        col("d.amount").as("amount"),
        when(col("ev.event") === "ft_mint", "MINT")
          .when(col("ev.event") === "ft_transfer", "TRANSFER")
          .otherwise("BURN").as("event_kind"),
        when(col("ev.event") === "ft_mint", lit(""))
          .when(col("ev.event") === "ft_transfer", esc(col("d.old_owner_id")))
          .otherwise(esc(col("d.owner_id"))).as("token_old_owner_account_id"),
        when(col("ev.event") === "ft_mint", esc(col("d.owner_id")))
          .when(col("ev.event") === "ft_transfer", esc(col("d.new_owner_id")))
          .otherwise(lit("")).as("token_new_owner_account_id"),
        esc(col("d.memo")).as("event_memo"))
  }

  /** assets__non_fungible_token_events
    * (non_fungible_token_events.rs:48-150): one row per (entry,
    * token_id); ordinal counts NFT rows in (outcome, log, entry, token)
    * order.
    */
  def nftEvents(norm: DataFrame): DataFrame = {
    val base = parsedEvents(norm)
      .filter(col("ev.standard") === "nep171" &&
        col("ev.event").isin("nft_mint", "nft_transfer", "nft_burn"))
      .filter(
        when(col("ev.event") === "nft_mint",
          forall(col("ev.data"), d => d("owner_id").isNotNull && d("token_ids").isNotNull))
        .when(col("ev.event") === "nft_transfer",
          forall(col("ev.data"), d => d("old_owner_id").isNotNull &&
            d("new_owner_id").isNotNull && d("token_ids").isNotNull))
        .otherwise(
          forall(col("ev.data"), d => d("owner_id").isNotNull && d("token_ids").isNotNull)))
      .select(col("*"), posexplode(col("ev.data")).as(Seq("entry_pos", "d")))
      .select(col("*"), posexplode(col("d.token_ids")).as(Seq("token_pos", "token_id")))
    val w = Window.partitionBy(col("blockHash"), col("shard_id"))
      .orderBy(col("outcome_index"), col("log_pos"), col("entry_pos"), col("token_pos"))
    base.withColumn("emitted_index_of_event_entry_in_shard",
        (row_number().over(w) - 1))
      .select(
        col("emitted_for_receipt_id"),
        col("emitted_at_block_timestamp"),
        col("shard_id").cast(D20).as("emitted_in_shard_id"),
        col("emitted_index_of_event_entry_in_shard"),
        col("contract_id").as("emitted_by_contract_account_id"),
        esc(col("token_id")).as("token_id"),
        when(col("ev.event") === "nft_mint", "MINT")
          .when(col("ev.event") === "nft_transfer", "TRANSFER")
          .otherwise("BURN").as("event_kind"),
        when(col("ev.event") === "nft_mint", lit(""))
          .when(col("ev.event") === "nft_transfer", esc(col("d.old_owner_id")))
          .otherwise(esc(col("d.owner_id"))).as("token_old_owner_account_id"),
        when(col("ev.event") === "nft_mint", esc(col("d.owner_id")))
          .when(col("ev.event") === "nft_transfer", esc(col("d.new_owner_id")))
          .otherwise(lit("")).as("token_new_owner_account_id"),
        when(col("ev.event") === "nft_mint", lit(""))
          .otherwise(esc(col("d.authorized_id"))).as("token_authorized_account_id"),
        esc(col("d.memo")).as("event_memo"))
  }
}
