package graft.near

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The consumer analytics surface (SURVEY §3.3): the query shapes the
  * reference's 40+ indexes make cheap against its Postgres replicas,
  * re-expressed over the warehouse tables. Each takes the table
  * DataFrames (batch `Ingest.allTables` or `Warehouse.table`).
  *
  * Scale notes: every scan here filters on either a point key (hash
  * lookups — parquet min/max + bloom skip at scale) or an account id +
  * the canonical time-ordering columns; time-range variants prune the
  * warehouse's `block_date` partitions before touching data. Keyset
  * pagination (`after`) replaces OFFSET so deep pages stay O(page).
  */
object ConsumerQueries {

  /** Point lookup: transaction by hash (PK index). */
  def transactionByHash(transactions: DataFrame, hash: String): DataFrame =
    transactions.filter(col("transaction_hash") === hash)

  /** Composite keyset cursor: strictly after (ts, index) — a cursor on
    * the timestamp alone would skip same-timestamp rows beyond a page
    * boundary (whole blocks share one timestamp).
    */
  private def afterKey(ts: Column, idx: Column,
      cursor: Option[(BigDecimal, Int)]): Column =
    cursor.map { case (t, i) =>
      ts > lit(t.bigDecimal) || (ts === lit(t.bigDecimal) && idx > i)
    }.getOrElse(lit(true))

  /** Account activity: transactions signed by an account, in the
    * canonical pagination order (transactions_signer_account_id_idx +
    * the 2021-08-02 sorting index (block_timestamp, index_in_chunk)).
    * `after` is the keyset cursor (exclusive): the (block_timestamp,
    * index_in_chunk) of the last row of the previous page.
    */
  def transactionsBySigner(transactions: DataFrame, signer: String,
      after: Option[(BigDecimal, Int)] = None, limit: Int = 100): DataFrame =
    transactions.filter(col("signer_account_id") === signer &&
        afterKey(col("block_timestamp"), col("index_in_chunk"), after))
      // hash tiebreaker: (timestamp, index_in_chunk) is NOT unique —
      // two shards in the same block both start index_in_chunk at 0 —
      // so a LIMIT page cut on the pair alone would be engine- and
      // run-dependent at the boundary
      .orderBy(col("block_timestamp"), col("index_in_chunk"),
        col("transaction_hash"))
      .limit(limit)

  /** Account activity: receipts received by an account
    * (receipts_receiver_account_id_idx, up.sql:606-609).
    */
  def receiptsByReceiver(receipts: DataFrame, receiver: String,
      after: Option[(BigDecimal, Int)] = None, limit: Int = 100): DataFrame =
    receipts.filter(col("receiver_account_id") === receiver &&
        afterKey(col("included_in_block_timestamp"), col("index_in_chunk"),
          after))
      // receipt_id tiebreaker — same non-unique-pair hazard as
      // transactionsBySigner
      .orderBy(col("included_in_block_timestamp"), col("index_in_chunk"),
        col("receipt_id"))
      .limit(limit)

  /** JSONB predicate queries (partial expression indexes,
    * 2021-05-10-084700.../up.sql:1-8): FunctionCall actions by
    * `args->>'method_name'`, optionally by
    * `args->'args_json'->>'receiver_id'`. In Spark the predicate is a
    * JSON-path extraction that whole-stage codegen evaluates inline;
    * the action_kind filter prunes first.
    */
  def functionCallsByMethod(actionReceiptActions: DataFrame,
      methodName: String, argsReceiverId: Option[String] = None): DataFrame = {
    val base = actionReceiptActions
      .filter(col("action_kind") === "FUNCTION_CALL" &&
        get_json_object(col("args"), "$.method_name") === methodName)
    argsReceiverId.fold(base)(rid => base.filter(
        get_json_object(col("args"), "$.args_json.receiver_id") === rid))
      .orderBy(col("receipt_included_in_block_timestamp"),
        col("receipt_id"), col("index_in_action_receipt"))
  }

  /** Actions received by an account in pagination order
    * (action_receipt_actions_receiver_and_timestamp_idx,
    * 2022-01-26-184201.../up.sql:1-2).
    */
  def actionsByReceiver(actionReceiptActions: DataFrame,
      receiver: String): DataFrame =
    actionReceiptActions
      .filter(col("receipt_receiver_account_id") === receiver)
      .orderBy(col("receipt_included_in_block_timestamp"),
        col("receipt_id"), col("index_in_action_receipt"))

  private val eventOrder: Seq[Column] = Seq(
    col("emitted_at_block_timestamp"),
    col("emitted_in_shard_id"),
    col("emitted_index_of_event_entry_in_shard"))

  /** FT transfer history of an account on a token contract
    * (assets__fungible_token_events_sorting_shortcut_idx +
    * 2022-08-12-123800 account history index): events where the
    * account is old or new owner, in shard-event order.
    */
  def ftHistory(ftEvents: DataFrame, contract: String,
      account: String): DataFrame =
    ftEvents.filter(col("emitted_by_contract_account_id") === contract &&
        (col("token_old_owner_account_id") === account ||
          col("token_new_owner_account_id") === account))
      .orderBy(eventOrder: _*)

  /** NFT provenance: one token's event history on a contract
    * (assets__non_fungible_token_events PK prefix + token_id index).
    */
  def nftTokenHistory(nftEvents: DataFrame, contract: String,
      tokenId: String): DataFrame =
    nftEvents.filter(col("emitted_by_contract_account_id") === contract &&
        col("token_id") === tokenId)
      .orderBy(eventOrder: _*)

  /** Balance history of one account (the account_changes sorting index
    * (changed_in_block_timestamp, index_in_block), 2021-08-11): every
    * balance snapshot in block order with the causing tx/receipt.
    */
  def accountBalanceHistory(accountChanges: DataFrame,
      account: String): DataFrame =
    accountChanges.filter(col("affected_account_id") === account)
      .select(col("changed_in_block_timestamp"), col("index_in_block"),
        col("affected_account_nonstaked_balance"),
        col("affected_account_staked_balance"),
        col("update_reason"), col("caused_by_transaction_hash"),
        col("caused_by_receipt_id"))
      .orderBy(col("changed_in_block_timestamp"), col("index_in_block"))

  /** The receipt DAG neighborhood of one transaction: every receipt a
    * tx originated, with execution status — the explorer's
    * "transaction page" query (originated_from_transaction_hash idx +
    * execution_outcomes PK).
    */
  def transactionReceiptTree(receipts: DataFrame,
      executionOutcomes: DataFrame, txHash: String): DataFrame =
    receipts.filter(col("originated_from_transaction_hash") === txHash)
      .join(executionOutcomes.select(col("receipt_id"), col("status"),
        col("gas_burnt"), col("tokens_burnt")), Seq("receipt_id"), "left")
      .orderBy(col("included_in_block_timestamp"), col("index_in_chunk"))

  /** Nanosecond UTC-day bucket — all bucketing on the raw number, like
    * the reference (circulating-supply/src/main.rs:112-114); Spark
    * timestamps are µs so DECIMAL arithmetic is the exact route
    * (SURVEY §7.6).
    */
  private def dayNs(ts: Column): Column =
    (ts - (ts % lit(86400000000000L))).as("day_ns")

  /** Daily gas/fee analytics over execution outcomes — the network-
    * activity dashboard query the execution_outcomes timestamp index
    * serves. One shuffle on the day bucket; partial aggregation
    * map-side, so it scans once at any history length (and partition
    * pruning bounds it when a day range is pushed down).
    */
  def dailyGasStats(executionOutcomes: DataFrame): DataFrame =
    executionOutcomes
      .groupBy(dayNs(col("executed_in_block_timestamp")))
      .agg(count(lit(1)).cast("long").as("n_outcomes"),
        sum(col("gas_burnt")).as("gas_burnt_total"),
        sum(col("tokens_burnt")).as("tokens_burnt_total"))
      .orderBy(col("day_ns"))

  /** Daily active signers (the transactions signer index, up.sql:
    * 648-651, aggregated by day): distinct signers + tx count per
    * UTC day.
    */
  def dailyActiveAccounts(transactions: DataFrame): DataFrame =
    transactions
      .groupBy(dayNs(col("block_timestamp")))
      .agg(countDistinct(col("signer_account_id")).cast("long").as("n_signers"),
        count(lit(1)).cast("long").as("n_txs"))
      .orderBy(col("day_ns"))
}
