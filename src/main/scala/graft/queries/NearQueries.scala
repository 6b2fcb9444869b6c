package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType}
import graft.near.{Fixtures, Ingest}

/** Driver-facing NEAR-indexer queries: each runs the real ETL DAG
  * (parse → transform → lineage) over the embedded fixture chain and
  * returns one of the 17 output tables, ordered deterministically.
  * The normalized chain (and the lockup states) are ALSO materialized
  * to [[NearOracles.fixtureDir]] as parquet so the driver's DuckDB can
  * independently recompute every table from the same input — the
  * `oracleSql` twins live in NearOracles.
  */
object NearQueries {

  // One ETL pass per session: the engine ingests the chain once and
  // serves all 17 tables from it (lineage resolution is eager, so
  // rebuilding per query would re-run the fixpoint 14×).
  private val cache =
    new graft.SessionCache[Map[String, DataFrame]]()

  private def writeFixture(df: DataFrame, dir: String): Unit =
    FixtureIO.writeStable(df, dir)

  private def tables(s: SparkSession): Map[String, DataFrame] =
    cache.get(s, (s2: SparkSession) => {
      val norm = Ingest.blocksFromJson(s2, Fixtures.chain).toDF().persist()
      norm.count()
      // Deterministic parquet mirror of the oracle's input: the
      // normalized chain plus the S4 point-source states. DuckDB
      // recomputes all 17 tables from these (NearOracles.sql).
      writeFixture(norm, s"${NearOracles.fixtureDir}/norm")
      writeFixture(s2.createDataset(Fixtures.lockupStates)(
          org.apache.spark.sql.Encoders.product[graft.near.Lockup.State])
        .toDF(), s"${NearOracles.fixtureDir}/lockup_states")
      Ingest.allTables(norm).map { case (n, df) => (n, df.persist()) }
    })

  // Second, independent gate input: the deterministic 256-block
  // ScaleChain — same ETL, thousands of rows, so the DuckDB oracle
  // checks volume-dependent semantics (window tie-breaks, ordinals,
  // fork/issue84 dedup, deep lineage) and not just the hand fixture.
  private val scaleCache =
    new graft.SessionCache[Map[String, DataFrame]]()

  private def scaleTables(s: SparkSession): Map[String, DataFrame] =
    scaleCache.get(s, (s2: SparkSession) => {
      val norm = Ingest.blocksFromJson(s2, graft.near.ScaleChain.chain())
        .toDF().persist()
      norm.count()
      writeFixture(norm, s"${NearOracles.fixtureDir}/scale_norm")
      writeFixture(s2.createDataset(graft.near.ScaleChain.lockupStates)(
          org.apache.spark.sql.Encoders.product[graft.near.Lockup.State])
        .toDF(), s"${NearOracles.fixtureDir}/scale_lockup_states")
      Ingest.allTables(norm).map { case (n, df) => (n, df.persist()) }
    })

  // Fifth gate input: the SAME generator at an INDEPENDENT seed. The
  // round-9 perm-shadowing bug proved oracle reach depends on which
  // event shapes a seed happens to produce (wider key pools surfaced a
  // compaction bug the seed-7 hot pool masked for two rounds), so the
  // trickiest tables are additionally gated on a second 256-block
  // chain (seed 13): different collision patterns, fork placements,
  // churn interleavings — same semantics, same oracle SQL.
  private val scale2Cache =
    new graft.SessionCache[Map[String, DataFrame]]()

  private def scale2Tables(s: SparkSession): Map[String, DataFrame] =
    scale2Cache.get(s, (s2: SparkSession) => {
      val norm = Ingest.blocksFromJson(s2,
        graft.near.ScaleChain.chain(seed = 13L)).toDF().persist()
      norm.count()
      writeFixture(norm, s"${NearOracles.fixtureDir}/scale2_norm")
      Ingest.allTables(norm).map { case (n, df) => (n, df.persist()) }
    })

  private def scale2Table(name: String, order: Seq[String])(
      s: SparkSession, dir: String): DataFrame =
    servedSort(scale2Tables(s)(name), order)

  // Seed-13 chain through the STREAMING path, its registries gated: the
  // round-9 compaction bug needed BOTH wide key pools and a specific
  // cross-batch event placement (a key whose only events in some
  // microbatch are DELETEs) — placement is seed-dependent, so the
  // delta compactions are gated at a second seed too.
  private val streamed2Cache =
    new graft.SessionCache[Map[String, DataFrame]]()

  private def streamed2Tables(s: SparkSession): Map[String, DataFrame] =
    streamed2Cache.get(s, (s2: SparkSession) => {
      scale2Tables(s2) // ensure the scale2_norm oracle fixture is written
      streamedWarehouse(s2, graft.near.ScaleChain.chain(seed = 13L))
    })

  // Fourth gate input: the SAME 256-block chain pushed through the
  // STREAMING path — 4 processBatch microbatches with the exactly-once
  // commit protocol into a temp warehouse, then read back (registries
  // compacted from their appended deltas). The BATCH twins are the
  // oracle, so stream/batch convergence — cross-batch lineage,
  // pending resolution, issue84 `_tx_recent` state, delta compaction —
  // is hash-checked at VOLUME, not just at spec scale.
  private val streamedCache =
    new graft.SessionCache[Map[String, DataFrame]]()

  /** The 15 plain tables the streamed gate reads back verbatim; the two
    * registries (accounts, access_keys) additionally go through their
    * delta compactions. NearStreamSpec asserts plain ∪ registries ==
    * the set of tables [[graft.near.Stream.processBatch]] actually
    * writes, so a table cannot be added to the streaming path without
    * joining the volume gate.
    */
  val StreamedPlainTables: Seq[String] = Seq("blocks", "chunks",
    "transactions", "transaction_actions", "receipts", "action_receipts",
    "action_receipt_actions", "action_receipt_input_data",
    "action_receipt_output_data", "data_receipts",
    "execution_outcomes", "execution_outcome_receipts",
    "account_changes", "assets__fungible_token_events",
    "assets__non_fungible_token_events")

  val StreamedGateTables: Set[String] =
    StreamedPlainTables.toSet ++ Set("accounts", "access_keys")

  /** Warehouse table name → `near_scale_streamed_<suffix>` entry
    * suffix. NearStreamSpec closes the loop: membership in
    * [[StreamedGateTables]] alone is NOT coverage — the spec also
    * asserts each table's streamed entry exists in BOTH [[queries]]
    * and [[NearOracles.sql]], so appending a name to the list without
    * wiring the hash gate still fails.
    */
  val StreamedGateSuffix: Map[String, String] =
    StreamedGateTables.map(n => n -> (n match {
      case "assets__fungible_token_events" => "ft_events"
      case "assets__non_fungible_token_events" => "nft_events"
      case other => other
    })).toMap

  private def streamedTables(s: SparkSession): Map[String, DataFrame] =
    streamedCache.get(s, (s2: SparkSession) => {
      scaleTables(s2) // ensure the scale_norm oracle fixture is written
      streamedWarehouse(s2, graft.near.ScaleChain.chain())
    })

  /** A chain pushed through the STREAMING path — `processBatch`
    * microbatches of 64 blocks into a temp warehouse — and read back:
    * the 15 plain tables verbatim, the two registries compacted from
    * their appended deltas.
    */
  private[graft] def streamedWarehouse(s: SparkSession,
      chain: Seq[String]): Map[String, DataFrame] = {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_stream_gate_").toString
    chain.grouped(64).foreach { batch =>
      graft.near.Stream.processBatch(s,
        graft.near.Ingest.blocksFromJson(s, batch).toDF(), wh)
    }
    def t(name: String) =
      graft.near.Warehouse.table(s, wh, name).drop("block_date")
    (StreamedPlainTables.map(n => n -> t(n)).toMap ++ Map(
      "accounts" -> graft.near.Warehouse.accountsCurrent(t("accounts")),
      "access_keys" ->
        graft.near.Warehouse.accessKeysCurrent(t("access_keys")),
    )).map { case (n, df) => n -> df.persist() }
  }

  // Third gate input: the deterministic genesis document — the engine
  // runs the REAL streamed split (token-level JSON → JSONL →
  // distributed read), the oracle re-parses the original document.
  private val genesisCache =
    new graft.SessionCache[(DataFrame, DataFrame)]()

  private def genesisTables(s: SparkSession): (DataFrame, DataFrame) =
    genesisCache.get(s, (s2: SparkSession) => {
      val dir = NearOracles.fixtureDir
      val conf = s2.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(s"$dir/genesis.json")
      val f = p.getFileSystem(conf)
      val out = f.create(p, true)
      out.write(Fixtures.genesisJson().getBytes("UTF-8"))
      out.close()
      val (acc, ak) = graft.near.Genesis.loadStreamed(s2,
        s"$dir/genesis.json", s"$dir/genesis_records.jsonl")
      (acc.persist(), ak.persist())
    })

  /** Deterministic total order for a SERVED gate table, without the
    * range-partitioning sampling pass a global `orderBy` plans: these
    * entries serve FIXTURE-bounded cached tables (the 4-block hand
    * chain / 256-block scale chains — their size is fixed by
    * construction, there is no 100 TB instance of a gate entry; the
    * scale paths are ingest and the streamed warehouse, measured
    * separately), so a single-partition sort IS the honest shape and
    * produces the IDENTICAL total order with one job instead of two
    * (sample + sort) per entry. 85 micro entries × one extra job was
    * ~1/3 of near_tables_total. Product views (lockups, supply,
    * consumer queries) keep their own internal shapes untouched.
    */
  private def servedSort(df: DataFrame, order: Seq[String]): DataFrame =
    df.coalesce(1).sortWithinPartitions(order.map(col): _*)

  private def table(name: String, order: Seq[String])(
      s: SparkSession, dir: String): DataFrame =
    servedSort(tables(s)(name), order)

  private def served(name: String, order: String*)(
      s: SparkSession, t: Map[String, DataFrame]): DataFrame =
    servedSort(t(name), order)

  private val EventOrder = Seq("emitted_at_block_timestamp",
    "emitted_in_shard_id", "emitted_index_of_event_entry_in_shard")

  /** The `near_scale_<suffix>` entries over any ScaleChain's tables
    * (`Ingest.allTables` output, or [[streamedWarehouse]] for the 17
    * tables and the lockup view): the 17 tables, the J4/J5 lockup
    * view, the daily supply series and the consumer queries at the
    * generator's accounts. [[NearOracles.sql]] holds the twin of each
    * under the same name, over `scale_norm`.
    */
  private[graft] val scaleViews
      : Map[String, (SparkSession, Map[String, DataFrame]) => DataFrame] = Map(
    "blocks" -> served("blocks", "block_height", "block_hash") _,
    "chunks" -> served("chunks", "chunk_hash") _,
    "transactions" -> served("transactions", "transaction_hash") _,
    "transaction_actions" -> served("transaction_actions",
      "transaction_hash", "index_in_transaction") _,
    "receipts" -> served("receipts", "receipt_id") _,
    "action_receipts" -> served("action_receipts", "receipt_id") _,
    "action_receipt_input_data" -> served("action_receipt_input_data",
      "input_data_id", "input_to_receipt_id") _,
    "action_receipt_output_data" ->
      served("action_receipt_output_data", "output_data_id") _,
    "data_receipts" -> served("data_receipts", "data_id") _,
    "execution_outcome_receipts" -> served("execution_outcome_receipts",
      "executed_receipt_id", "index_in_execution_outcome") _,
    "accounts" -> served("accounts", "account_id") _,
    "access_keys" -> served("access_keys", "account_id", "public_key") _,
    "nft_events" ->
      served("assets__non_fungible_token_events", EventOrder: _*) _,
    "action_receipt_actions" -> served("action_receipt_actions",
      "receipt_id", "index_in_action_receipt") _,
    "execution_outcomes" -> served("execution_outcomes", "receipt_id") _,
    "account_changes" -> served("account_changes",
      "changed_in_block_timestamp", "index_in_block") _,
    "ft_events" -> served("assets__fungible_token_events", EventOrder: _*) _,
    "lockups" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      servedSort(graft.near.Views.aggregatedLockups(t("accounts"),
        t("receipts"), t("blocks")), Seq("account_id"))),
    "q_tx_receipt_tree" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.transactionReceiptTree(
        t("receipts"), t("execution_outcomes"), graft.near.ScaleChain.WhaleTx)),
    "q_daily_gas" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.dailyGasStats(t("execution_outcomes"))),
    "q_active_accounts" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.dailyActiveAccounts(t("transactions"))),
    "q_method_calls" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.functionCallsByMethod(
        t("action_receipt_actions"), "do_it")),
    "q_ft_history" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.ftHistory(
        t("assets__fungible_token_events"), "user1.near", "bob.near")),
    "q_balance_history" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.accountBalanceHistory(
        t("account_changes"), "user1.near")),
    "q_nft_history" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.nftTokenHistory(
        t("assets__non_fungible_token_events"), "user1.near", "tk1")),
    // Keyset-pagination account-activity queries at volume: a full
    // LIMIT page (100 rows) out of several hundred matching rows —
    // mirrors transactions_signer_account_id_idx (up.sql:648-651) and
    // receipts_receiver_account_id_idx (up.sql:606-609).
    "q_tx_by_signer" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.transactionsBySigner(
        t("transactions"), "user1.near")),
    "q_receipts_by_receiver" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.ConsumerQueries.receiptsByReceiver(t("receipts"), "user1.near")),
    "q_daily_supply" -> ((s: SparkSession, t: Map[String, DataFrame]) =>
      graft.near.Views.dailyCirculatingSupply(s, t("blocks"),
        graft.near.Views.aggregatedLockups(t("accounts"), t("receipts"),
          t("blocks")),
        s.createDataset(graft.near.ScaleChain.lockupStates)(
          org.apache.spark.sql.Encoders.product[graft.near.Lockup.State]),
        Fixtures.foundationLocked)),
  )

  /** The `near_scale_streamed_<suffix>` entries: every table the
    * streaming path writes, plus the lockup view over them.
    */
  private[graft] val StreamedViews: Seq[String] =
    StreamedGateSuffix.values.toSeq.sorted :+ "lockups"

  /** Hash-stable final projection: the driver's compare canonicalizes
    * cells via pandas `astype(str)`, which floats DuckDB DECIMALs
    * ('1.7e+18') and chokes on BINARY. Project DECIMAL → exact string
    * and BINARY → lowercase hex on BOTH sides ([[NearOracles.stable]]
    * is the twin) so the hash sees identical representations.
    */
  private[graft] def hashStable(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("string").as(f.name)
        case BinaryType     => lower(hex(col(f.name))).as(f.name)
        case _              => col(f.name)
      }
    }
    df.select(cols: _*)
  }

  private val raw: Map[String, (SparkSession, String) => DataFrame] = Map(
    "near_blocks" -> table("blocks", Seq("block_height", "block_hash")) _,
    "near_chunks" -> table("chunks", Seq("chunk_hash")) _,
    "near_transactions" -> table("transactions", Seq("transaction_hash")) _,
    "near_transaction_actions" ->
      table("transaction_actions", Seq("transaction_hash", "index_in_transaction")) _,
    "near_receipts" -> table("receipts", Seq("receipt_id")) _,
    "near_action_receipts" -> table("action_receipts", Seq("receipt_id")) _,
    "near_action_receipt_actions" ->
      table("action_receipt_actions", Seq("receipt_id", "index_in_action_receipt")) _,
    "near_action_receipt_input_data" ->
      table("action_receipt_input_data",
        Seq("input_data_id", "input_to_receipt_id")) _,
    "near_action_receipt_output_data" ->
      table("action_receipt_output_data", Seq("output_data_id")) _,
    "near_data_receipts" -> table("data_receipts", Seq("data_id")) _,
    "near_execution_outcomes" -> table("execution_outcomes", Seq("receipt_id")) _,
    "near_execution_outcome_receipts" ->
      table("execution_outcome_receipts",
        Seq("executed_receipt_id", "index_in_execution_outcome")) _,
    "near_accounts" -> table("accounts", Seq("account_id")) _,
    "near_access_keys" -> table("access_keys", Seq("account_id", "public_key")) _,
    "near_account_changes" ->
      table("account_changes", Seq("changed_in_block_timestamp", "index_in_block")) _,
    "near_ft_events" ->
      table("assets__fungible_token_events",
        Seq("emitted_at_block_timestamp", "emitted_in_shard_id",
          "emitted_index_of_event_entry_in_shard")) _,
    "near_nft_events" ->
      table("assets__non_fungible_token_events",
        Seq("emitted_at_block_timestamp", "emitted_in_shard_id",
          "emitted_index_of_event_entry_in_shard")) _,
    "near_lockups" -> ((s: SparkSession, dir: String) => {
      val t = tables(s)
      servedSort(graft.near.Views.aggregatedLockups(t("accounts"),
        t("receipts"), t("blocks")), Seq("account_id"))
    }),
    "near_q_tx_by_signer" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.transactionsBySigner(
        tables(s)("transactions"), "alice.near")),
    "near_q_receipts_by_receiver" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.receiptsByReceiver(
        tables(s)("receipts"), "bob.near")),
    "near_q_method_calls" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.functionCallsByMethod(
        tables(s)("action_receipt_actions"), "do_it")),
    "near_q_ft_history" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.ftHistory(
        tables(s)("assets__fungible_token_events"), "carol.near", "bob.near")),
    "near_q_nft_history" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.nftTokenHistory(
        tables(s)("assets__non_fungible_token_events"), "carol.near", "tk1")),
    "near_q_tx_receipt_tree" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.transactionReceiptTree(
        tables(s)("receipts"), tables(s)("execution_outcomes"), "T1")),
    "near_q_balance_history" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.accountBalanceHistory(
        tables(s)("account_changes"), "alice.near")),
    "near_q_daily_gas" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.dailyGasStats(
        tables(s)("execution_outcomes"))),
    "near_q_active_accounts" -> ((s: SparkSession, dir: String) =>
      graft.near.ConsumerQueries.dailyActiveAccounts(
        tables(s)("transactions"))),
    "near_circulating_supply" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val t = tables(s)
      val block = graft.near.Views.latestBlockBeforeTimestamp(
        t("blocks"), BigDecimal("1700000002000000000"))
      graft.near.Views.circulatingSupply(s, block,
        graft.near.Views.aggregatedLockups(t("accounts"), t("receipts"),
          t("blocks")),
        s.createDataset(Fixtures.lockupStates),
        Fixtures.foundationLocked)
    }),
    // --- second-seed volume gate (seed 13): the trickiest tables ---
    "near_scale2_transactions" ->
      scale2Table("transactions", Seq("transaction_hash")) _,
    "near_scale2_receipts" -> scale2Table("receipts", Seq("receipt_id")) _,
    "near_scale2_action_receipt_actions" ->
      scale2Table("action_receipt_actions",
        Seq("receipt_id", "index_in_action_receipt")) _,
    "near_scale2_nft_events" ->
      scale2Table("assets__non_fungible_token_events",
        Seq("emitted_at_block_timestamp", "emitted_in_shard_id",
          "emitted_index_of_event_entry_in_shard")) _,
    "near_scale2_accounts" ->
      scale2Table("accounts", Seq("account_id")) _,
    "near_scale2_access_keys" ->
      scale2Table("access_keys", Seq("account_id", "public_key")) _,
    "near_scale2_streamed_accounts" -> ((s: SparkSession, dir: String) =>
      servedSort(streamed2Tables(s)("accounts"), Seq("account_id"))),
    "near_scale2_streamed_access_keys" -> ((s: SparkSession, dir: String) =>
      servedSort(streamed2Tables(s)("access_keys"),
        Seq("account_id", "public_key"))),
    // J7 backfill: strip the denormalized columns and reconstruct them
    // with the backfill join — must hash-equal the live table's twin.
    "near_backfill_ara_denorm" -> ((s: SparkSession, dir: String) => {
      val t = tables(s)
      servedSort(graft.near.Backfill.denormalizeActionReceiptActions(
          t("action_receipt_actions"), t("receipts")),
        Seq("receipt_id", "index_in_action_receipt"))
    }),
    "near_genesis_accounts" -> ((s: SparkSession, dir: String) =>
      servedSort(genesisTables(s)._1, Seq("account_id"))),
    "near_genesis_access_keys" -> ((s: SparkSession, dir: String) =>
      servedSort(genesisTables(s)._2, Seq("account_id", "public_key"))),
  ) ++ scaleViews.map { case (sfx, f) =>
    // --- volume gate over the 256-block ScaleChain ---
    s"near_scale_$sfx" -> ((s: SparkSession, dir: String) => f(s, scaleTables(s)))
  } ++ StreamedViews.map { sfx =>
    // --- streamed-warehouse convergence at volume: ALL 17 tables ---
    // Every warehouse table the streaming path writes is read back and
    // hash-checked against its batch twin — cross-batch lineage, the
    // delegate flatten when a delegate's receipt lands in a later
    // microbatch than its tx (receipts.rs:534-625), shard ordinals
    // under batch splits (2022-01-12-100000_assets_ft/up.sql:15-21),
    // outcome→receipt edges, binary payloads across commit boundaries,
    // and the registry delta compactions. The J4/J5 lockup view over
    // the streamed warehouse checks that the registry deltas compose
    // under downstream joins.
    s"near_scale_streamed_$sfx" -> ((s: SparkSession, dir: String) =>
      scaleViews(sfx)(s, streamedTables(s)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    raw.map { case (name, f) =>
      name -> ((s: SparkSession, dir: String) => hashStable(f(s, dir)))
    }
}
