package graft.near

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingestion (SURVEY S1/S2/§2.9): a file-source
  * stream of per-block JSON documents (the NEAR Lake layout,
  * `indexer/src/main.rs:243-259`) → the full §3.1 transform DAG per
  * microbatch → a day-partitioned parquet warehouse.
  *
  * Start-offset semantics (S2, `indexer/src/configs.rs:54-65`):
  *   - from-genesis / from-block = feed the directory from the chosen
  *     height up;
  *   - from-interruption = the checkpoint directory (Spark replays the
  *     unfinished microbatch — the analogue of the reference's
  *     −500-block rewind). Delivery guarantee parity: the JDBC mirror
  *     is exactly-once-effective under replay (ON CONFLICT, like the
  *     reference); the parquet warehouse is exactly-once-effective too
  *     — each batch's table appends and state updates commit atomically
  *     through [[BatchCommit]]'s manifest protocol, so a mid-batch
  *     crash rolls back (or forward) cleanly and the replayed batch
  *     writes each row exactly once. (Readers racing a batch between
  *     its file moves and a crash can observe a torn prefix until the
  *     next stream tick — recovery runs at every [[processBatch]]
  *     entry, including empty batches — the one remaining, disclosed
  *     window; `Warehouse.dedupedByPk` stays available as belt and
  *     braces.)
  *
  * Cross-batch lineage (§2.4, the §7.4 "batch-iterative" design):
  * within a batch the fixpoint resolves everything reachable from this
  * batch's transactions; for receipts whose parents live in EARLIER
  * blocks, the already-written warehouse serves as the lookup side of
  * the reference's J1/J2/J3 DB fallbacks (receipts.rs:249-429) — the
  * unresolved frontier (tiny) is broadcast against it. Receipts and
  * edges that still don't resolve park in `_pending`/`_pending_edges`
  * with a retry count and re-enter the next microbatch — the
  * reference's backoff loop (receipts.rs:459-478) made deterministic;
  * after `maxRetries` batches they are dropped like non-strict mode's
  * skip (receipts.rs:231). State is bounded by the unresolved frontier,
  * not by chain length — there is no unbounded in-memory map, unlike
  * the reference's 100k LRU, which this replaces.
  */
object Stream {

  val PendingDir = "_pending"
  val PendingEdgesDir = "_pending_edges"
  val LineageAheadDir = "_lineage_ahead"
  val TxRecentDir = "_tx_recent"
  val BlocksRecentDir = "_blocks_recent"

  /** Warehouse-root ledgers for the non-strict incident flow (plain
    * append tables, committed with the batch): which block hashes were
    * ingested with skipped satellites, and which of those a strict
    * re-index has since repaired. A block's presence/absence of
    * account_changes rows CANNOT stand in for these (a healthy block
    * can legitimately have zero state changes yet carry key events),
    * so the strictness fact is recorded where it is known — at write
    * time.
    */
  val NonStrictBlocksTable = "_nonstrict_blocks"
  val ReindexBackfilledTable = "_reindex_backfilled"

  /** Tables carrying a block timestamp, with its column name — written
    * partitioned by UTC day of that column so time predicates prune
    * partitions at 100 TB.
    */
  val TimePartitioned: Map[String, String] = Map(
    "blocks" -> "block_timestamp",
    "transactions" -> "block_timestamp",
    "receipts" -> "included_in_block_timestamp",
    "action_receipt_actions" -> "receipt_included_in_block_timestamp",
    "execution_outcomes" -> "executed_in_block_timestamp",
    "account_changes" -> "changed_in_block_timestamp",
    "assets__fungible_token_events" -> "emitted_at_block_timestamp",
    "assets__non_fungible_token_events" -> "emitted_at_block_timestamp",
  )

  /** Nanos → UTC day; exact integral arithmetic on the decimal value —
    * a double cast would round timestamps within ~256 ns of midnight
    * into the wrong partition (53-bit mantissa < 1.7e18 nanos). Spark
    * timestamps are µs, so the raw number is bucketed directly
    * (SURVEY §7.6#2).
    */
  private[graft] def dayCol(ts: String) = {
    // SQL `div` = exact integral quotient (works on DECIMAL, yields BIGINT)
    val daysSinceEpoch = expr(s"CAST($ts AS DECIMAL(38,0)) div 86400000000000")
    // date_add from the epoch date is timezone-independent — the
    // timestamp_seconds/to_date route converts via the SESSION timezone
    // and would shift day partitions when the session isn't UTC.
    date_add(lit(java.sql.Date.valueOf("1970-01-01")), daysSinceEpoch.cast("int"))
  }

  private val listenerRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** `minHeight` implements the runbook's sync-from-block verb
    * (TROBLESHOOTING.md "If it stuck", configs.rs:54-65): blocks below
    * it are dropped AFTER parse, so a stuck-block restart skips the
    * borked heights while the file-source checkpoint still marks their
    * files consumed. `enableAccountChanges = false` is non-strict
    * mode's account_changes skip ([[Runbook]] packages both).
    */
  def run(spark: SparkSession, inputDir: String, warehouseDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 1000, maxRetries: Int = 4,
      minHeight: Long = Long.MinValue,
      enableAccountChanges: Boolean = true,
      enableAccessKeys: Boolean = true): StreamingQuery = {
    if (listenerRegistered.compareAndSet(false, true))
      spark.streams.addListener(Metrics.listener())
    spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val norm0 = Ingest.parse(batch).toDF()
        val norm =
          if (minHeight == Long.MinValue) norm0
          else norm0.filter(col("blockHeight").cast("long") >= minHeight)
        processBatch(spark, norm, warehouseDir, maxRetries,
          enableAccountChanges = enableAccountChanges,
          enableAccessKeys = enableAccessKeys)
        ()
      }
      .start()
  }

  /** Read a cross-batch state table at the COMMITTED version (absent =
    * empty) — the test/ops read surface; processBatch itself threads
    * its own version handle.
    *
    * Concurrency: a processBatch commit deletes the superseded version
    * dir, so a read that resolved the version just before a commit can
    * land on a vanished path. The version is re-checked after the read
    * and the read retried once at the new version; the returned
    * DataFrame is only guaranteed readable until the NEXT commit —
    * callers needing a stable snapshot must consume it (or copy it
    * out) before resuming the stream.
    */
  def stateTable(spark: SparkSession, warehouseDir: String,
      name: String): Option[DataFrame] = {
    def attempt(): (Long, Option[DataFrame]) = {
      val v = BatchCommit.currentVersion(spark, warehouseDir)
      (v, BatchCommit.readState(spark, warehouseDir, v).get(name))
    }
    val (v1, df1) = attempt()
    if (BatchCommit.currentVersion(spark, warehouseDir) == v1) df1
    else attempt()._2
  }

  /** Same-height fork among the aggregated blocks: more blocks than
    * heights. Only then does a batch pay the PK-dedup windows (receipt
    * and outcome ids cannot collide otherwise; the JDBC mirror's PKs
    * remain the unconditional guarantee).
    */
  private[near] def forkTest: Column =
    count(lit(1)) > countDistinct(col("blockHeight"))

  /** Where the lineage fallback looks up parents: the JDBC mirror's
    * point queries (MirrorLookup), or the parquet warehouse with the
    * time-partitioned reads pruned to `block_date >= floor`.
    */
  private[near] sealed trait Fallback
  private[near] final case class MirrorFallback(
      factory: JdbcSink.ConnectionFactory) extends Fallback
  private[near] final case class WarehouseFallback(warehouseDir: String,
      floor: java.sql.Date) extends Fallback

  /** A batch's 17 tables, its next state, and the receipts that used
    * up their retries in it.
    */
  private[near] final case class Dag(tables: Map[String, DataFrame],
      state: Seq[(String, DataFrame)], dropped: DataFrame)

  /** The §3.1 DAG over one batch of parsed blocks: the 17 tables with
    * lineage resolved, and the state the next batch carries in. The
    * batch path ([[Ingest.allTables]]) is the case with no carried state
    * and no fallback; [[processBatch]] passes the committed state and a
    * warehouse or mirror fallback — the stream is the batch query run
    * incrementally over carried state.
    *
    * `state` maps state-table names to their committed rows (absent =
    * empty): `_pending` / `_pending_edges` (receipts and edges still
    * awaiting a parent), `_lineage_ahead` (ids announced by edges whose
    * receipts have not arrived), `_tx_recent` and `_blocks_recent` (the
    * trailing windows of stored tx hashes and block hashes, kept from
    * height `recentFrom` on). `hasForks` says the batch holds a
    * same-height fork ([[forkTest]]).
    *
    * Materialisation: each base that feeds several outputs (txBase,
    * the receipt and outcome bases, the edges, the resolved and the
    * unresolved receipts) is a lazy localCheckpoint — computed once, by
    * the first job that reads it (the lineage probe or one of the
    * batch's concurrent writes), not by a job of its own. Once
    * checkpointed, its blocks do not survive executor loss: a lost
    * block fails the read loudly instead of recomputing against a
    * half-rebuilt base — fine for one batch's lifetime, not for a
    * long-lived handle.
    */
  private[near] def dag(norm: DataFrame, hasForks: Boolean,
      state: Map[String, DataFrame], fallback: Option[Fallback] = None,
      maxRetries: Int = Int.MaxValue,
      recentFrom: Long = Long.MinValue): Dag = {
    def shared(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
    def pkGuard(df: DataFrame, pk: Seq[Column], order: Seq[Column]): DataFrame =
      if (hasForks) Transforms.dedupPk(df, pk, order) else df
    // Cross-batch issue84 handling (transactions.rs:43-89): within-
    // batch duplicates are resolved by transactionsBase; against
    // EARLIER batches the discriminator is the converted receipt id —
    // same hash + same receipt = fork re-delivery (dropped, PK
    // dedup), same hash + different receipt = genuine collision
    // (`_issue84_<height>` suffix). The lookup side is NOT the
    // warehouse (an O(history) scan per batch) but the `_tx_recent`
    // state: first-seen (hash, receipt) pairs from the trailing
    // window — the deterministic analogue of the reference's bounded
    // recent-tx cache. Collisions older than the window are missed,
    // the same trade the reference's eviction makes; the state is
    // broadcast-sized by construction.
    val txBase0 = Transforms.transactionsBase(norm)
    val txRecent = state.get(TxRecentDir)
    val txBase = shared(txRecent match {
      case Some(recent) =>
        // A tx row's identity is its converted receipt id (globally
        // unique): a batch row whose cid is already in state is a
        // fork re-delivery of an ALREADY-WRITTEN row — original or
        // suffixed collision — and is dropped outright, the parquet
        // analogue of ON CONFLICT DO NOTHING. (Pair-equality against
        // the hash's single stored cid would re-suffix a re-delivered
        // collision row into a duplicate.) Surviving rows whose hash
        // is known under a different cid are genuine collisions.
        txBase0
          .join(broadcast(recent.select(col("cid").as("seen_cid"))),
            txBase0("t.convertedIntoReceiptId") === col("seen_cid"), "left")
          .filter(col("seen_cid").isNull)
          .join(broadcast(recent.select(col("tx_hash").as("wh_hash"))
              .distinct()),
            txBase0("transaction_hash") === col("wh_hash"), "left")
          .withColumn("transaction_hash",
            when(col("wh_hash").isNotNull,
              concat(col("transaction_hash"), lit("_issue84_"),
                col("blockHeight")))
              .otherwise(col("transaction_hash")))
          .drop("seen_cid", "wh_hash")
      case None => txBase0
    })
    val transactions = Transforms.transactions(txBase)
    // Same-height fork branches can deliver the same receipt/outcome in
    // both blocks; dedup once at the base (satellites inherit) — the
    // parquet-side analogue of the reference's ON-CONFLICT PKs.
    val rNew = shared(pkGuard(Transforms.receiptsBase(norm),
        Seq(col("r.receiptId")), Seq(col("blockTimestamp"), col("blockHash")))
      .withColumn("retries", lit(0)))
    val oBase = shared(pkGuard(Transforms.outcomesBase(norm),
      Seq(col("o.receiptId")),
      Seq(col("blockTimestamp"), col("blockHash"))))
    val outcomeReceipts = Transforms.executionOutcomeReceipts(oBase)

    // Pending receipts from earlier batches re-enter the DAG; their
    // receipts row AND satellites are written in the batch where
    // they finally resolve (the reference skips satellites for
    // skipped receipts, receipts.rs:137-147).
    val rBase = state.get(PendingDir)
      .map(p => shared(Transforms.dedupPk(rNew.unionByName(p),
        Seq(col("r.receiptId")),
        Seq(col("blockTimestamp"), col("blockHash"), col("retries")))))
      .getOrElse(rNew)

    // Lineage resolves over ALL of the batch's edges (carried ones
    // included)…
    val newEdges = Lineage.edges(outcomeReceipts,
        Transforms.actionReceiptOutputData(rNew), Transforms.dataReceipts(rNew))
      .withColumn("retries", lit(0))
    val edges = shared(state.get(PendingEdgesDir)
      .map(newEdges.unionByName(_)).getOrElse(newEdges))
    val edgeSet = edges.select(col("child"), col("parent"))

    // Pass 1: resolve from this batch's transactions ∪ the carried
    // "announced but not yet arrived" map — mappings for receipt/data
    // ids whose edges were seen in earlier batches but whose receipt
    // rows haven't landed. Entries are dropped the batch their
    // receipt arrives, the remove-on-read parity of the reference's
    // cache (receipts.rs:191-202) — so the state stays bounded by
    // in-flight receipts, not chain length.
    val seeds = Lineage.seeds(transactions)
    val seeded = state.get(LineageAheadDir)
      .map(seeds.unionByName(_)).getOrElse(seeds)
    val pass1 = Lineage.resolveGraph(seeded, edgeSet)
    // Every resolveGraph result is already materialised (driver rows or
    // checkpointed rounds), so `resolved` needs no checkpoint of its own.
    val resolved = fallback.fold(pass1)(
      resolveFrontier(_, seeded, pass1, edgeSet, rBase, edges))

    // Carry forward mappings whose ids haven't arrived/been consumed.
    val consumed = rBase.select(col("r.receiptId").as("seen"))
      .unionByName(rBase.select(col("r.dataId").as("seen"))
        .filter(col("seen").isNotNull))
      .distinct()
    val aheadNext = resolved
      .join(consumed, col("child") === col("seen"), "left_anti")
      .select(col("child"), col("tx"))
    val lineage = resolved.select(
      col("child").as("lineage_receipt_id"),
      col("tx").as("originated_from_transaction_hash"))
    // …but satellite tables exist only for receipts that resolved —
    // the reference skips satellites for skipped receipts
    // (receipts.rs:137-147 filter on skipping_receipt_ids).
    val resolvedBase = shared(rBase.join(lineage,
      rBase("r.receiptId") === lineage("lineage_receipt_id"), "left_semi"))
    // Park what still didn't resolve; drop after maxRetries.
    val unresolvedAll = shared(rBase.join(lineage,
      rBase("r.receiptId") === lineage("lineage_receipt_id"), "left_anti"))
    val unresolvedEdges = edges
      .join(resolved.select(col("child").as("rc")),
        col("child") === col("rc"), "left_anti")
      .filter(col("retries") < maxRetries)
      .withColumn("retries", col("retries") + 1)

    def eventPk(df: DataFrame) = pkGuard(df,
      Seq(col("emitted_for_receipt_id"),
        col("emitted_index_of_event_entry_in_shard")),
      Seq(col("emitted_at_block_timestamp")))
    val tables = Map(
      "blocks" -> Transforms.blocks(norm),
      // a same-height fork can re-deliver its sibling's chunk
      "chunks" -> pkGuard(Transforms.chunks(norm),
        Seq(col("chunk_hash")), Seq(col("included_in_block_hash"))),
      "transactions" -> transactions,
      "transaction_actions" -> Transforms.transactionActions(txBase),
      // receipts: new ∪ formerly-pending, lineage-gated
      "receipts" -> Transforms.receipts(rBase, lineage),
      // satellites: written exactly once, in the batch where the
      // receipt resolves (never for dropped orphans)
      "action_receipts" -> Transforms.actionReceipts(resolvedBase),
      "action_receipt_actions" -> Transforms.actionReceiptActions(resolvedBase),
      "action_receipt_input_data" ->
        Transforms.actionReceiptInputData(resolvedBase),
      "action_receipt_output_data" ->
        Transforms.actionReceiptOutputData(resolvedBase),
      "data_receipts" -> Transforms.dataReceipts(resolvedBase),
      "execution_outcomes" -> Transforms.executionOutcomes(oBase),
      "execution_outcome_receipts" -> outcomeReceipts,
      // Registry DELTAS: per-batch last-wins folds appended here; the
      // current view is Warehouse.accountsCurrent/accessKeysCurrent
      // (the JDBC mirror gets the guarded upsert, JdbcSink).
      "accounts" -> Transforms.accountsRegistry(Transforms.accountEvents(norm)),
      "access_keys" ->
        Transforms.accessKeysRegistry(Transforms.accessKeyEvents(norm)),
      "account_changes" -> Transforms.accountChanges(norm),
      "assets__fungible_token_events" -> eventPk(Events.ftEvents(norm)),
      "assets__non_fungible_token_events" -> eventPk(Events.nftEvents(norm)),
    )

    // Recent-hash states: first-seen receipt per stored hash /
    // processed block hashes, both pruned to the trailing window.
    val batchPairs = txBase.select(
      col("transaction_hash").as("tx_hash"),
      col("t.convertedIntoReceiptId").as("cid"),
      col("blockHeight").cast("long").as("h"))
    val batchBlocks = norm.select(col("blockHash").as("block_hash"),
      col("blockHeight").cast("long").as("h"))
    def recent(batch: DataFrame, carried: Option[DataFrame], pk: String) =
      Transforms.dedupPk(carried.map(batch.unionByName(_)).getOrElse(batch),
        Seq(col(pk)), Seq(col("h")))
        .filter(col("h") >= lit(recentFrom))
    Dag(tables, Seq(
      LineageAheadDir -> aheadNext,
      PendingDir -> unresolvedAll.filter(col("retries") < maxRetries)
        .withColumn("retries", col("retries") + 1),
      PendingEdgesDir -> unresolvedEdges,
      TxRecentDir -> recent(batchPairs, txRecent, "tx_hash"),
      BlocksRecentDir ->
        recent(batchBlocks, state.get(BlocksRecentDir), "block_hash")),
      unresolvedAll.filter(col("retries") >= maxRetries))
  }

  /** Lineage for the frontier pass 1 left: parents no batch row or
    * carried state resolves, looked up where `fallback` says — the
    * reference's three DB lookups (J3 receipts.rs:409-429, J2
    * :348-375, J1 :249-264). Runs ONLY when the frontier is non-empty:
    * with the ahead map, in-order delivery keeps it empty, so
    * steady-state batches never rescan warehouse history.
    */
  private def resolveFrontier(fallback: Fallback, seeded: DataFrame,
      pass1: DataFrame, edgeSet: DataFrame, rBase: DataFrame,
      edges: DataFrame): DataFrame = {
    val frontier = edgeSet.select(col("parent"))
      .unionByName(rBase.select(col("r.receiptId").as("parent")))
      .distinct()
      .join(pass1, col("parent") === col("child"), "left_anti")
      .localCheckpoint(true)
    if (frontier.isEmpty) return pass1
    fallback match {
      case MirrorFallback(factory) =>
        // Point lookups run ON THE EXECUTORS (each partition of the
        // frontier opens its own mirror connection and resolves its
        // slice) — a worst-case recovery frontier never rides the
        // driver heap.
        val extra = MirrorLookup.resolveFrontierDistributed(factory, frontier)
        Lineage.resolveGraph(
          seeded.unionByName(pass1).unionByName(extra), edgeSet)
      case WarehouseFallback(warehouseDir, floor) =>
        val spark = frontier.sparkSession
        // The two time-partitioned lookup tables prune to the recovery
        // window; execution_outcome_receipts and
        // action_receipt_output_data carry no timestamp column (their
        // reference schema has none) and are narrow 2-3 column scans —
        // the expensive receipts/transactions history is what the
        // partition predicate bounds.
        def warehouseSeeds(fr: DataFrame, prune: Boolean): Seq[DataFrame] = {
          def bound(df: DataFrame) =
            if (prune) df.filter(col("block_date") >= lit(floor)) else df
          def read(t: String) = Warehouse.tableOpt(spark, warehouseDir, t)
          val whReceipts = read("receipts")
            .map(df => bound(df).select(col("receipt_id"),
              col("originated_from_transaction_hash").as("tx")))
          val whTx = read("transactions").map(bound)
          val whEor = read("execution_outcome_receipts")
          val whOutput = read("action_receipt_output_data")
          // J3: id was a transaction's converted receipt
          val j3 = whTx.map(wt =>
            broadcast(fr)
              .join(wt.select(col("converted_into_receipt_id").as("cid"),
                col("transaction_hash")), col("parent") === col("cid"))
              .select(col("parent").as("child"),
                col("transaction_hash").as("tx"))).toSeq
          // J2: id was produced by an executed receipt already written
          val j2 = (whEor, whReceipts) match {
            case (Some(we), Some(wr)) => Seq(
              broadcast(fr)
                .join(we.select(col("produced_receipt_id").as("pid"),
                  col("executed_receipt_id").as("eid")),
                  col("parent") === col("pid"))
                .join(wr, col("eid") === col("receipt_id"))
                .select(col("parent").as("child"), col("tx")))
            case _ => Seq.empty
          }
          // J1: id is a data_id declared by an already-written receipt
          val j1 = (whOutput, whReceipts) match {
            case (Some(wo), Some(wr)) => Seq(
              broadcast(fr)
                .join(wo.select(col("output_data_id").as("did"),
                  col("output_from_receipt_id").as("oid")),
                  col("parent") === col("did"))
                .join(wr, col("oid") === col("receipt_id"))
                .select(col("parent").as("child"), col("tx")))
            case _ => Seq.empty
          }
          j3 ++ j2 ++ j1
        }
        // Pass 2: re-run the fixpoint with the pruned warehouse seeds
        // folded in.
        val pass2 = Lineage.resolveGraph(
          (Seq(seeded, pass1) ++ warehouseSeeds(frontier, prune = true))
            .reduce(_ unionByName _), edgeSet)
        // A frontier residue after the PRUNED pass that has ALREADY
        // waited a full batch (retries >= 1) means a parent older
        // than the lookback (long-postponed data receipt, recovery
        // after extended downtime). Silently parking it would drop
        // data the reference's unbounded indexed lookups
        // (receipts.rs:409-429) resolve — so that residue retries
        // against the UNPRUNED history, metered via Metrics. The
        // retries gate keeps ordinary out-of-order arrivals (parent
        // simply in a FUTURE block, the common case) from paying a
        // full-history scan: they park for one batch first, and
        // almost always resolve from the next batch's seeds.
        val residue = frontier
          .join(pass2, col("parent") === col("child"), "left_anti")
          .localCheckpoint(true)
        val rescan =
          if (residue.isEmpty) residue
          else {
            val retriedIds = rBase.filter(col("retries") >= 1)
              .select(col("r.receiptId").as("parent"))
              .unionByName(edges.filter(col("retries") >= 1)
                .select(col("parent")))
              .distinct()
            residue.join(retriedIds, Seq("parent"), "left_semi")
              .localCheckpoint(true)
          }
        val unpruned =
          if (rescan.isEmpty) Seq.empty
          else warehouseSeeds(rescan, prune = false)
        // An empty seed list means no lookup tables exist yet — the
        // residue is ordinary out-of-order arrivals on a young
        // warehouse, not a lookback miss; parking handles it.
        if (unpruned.isEmpty) pass2
        else {
          Metrics.recordLineageFullRescan(rescan.count())
          Lineage.resolveGraph(
            (Seq(seeded, pass2) ++ unpruned).reduce(_ unionByName _),
            edgeSet)
        }
    }
  }

  /** One microbatch: [[dag]] over the blocks not seen before, with the
    * committed state and the lineage fallback, committed through
    * [[BatchCommit.commit]]. Public so batch jobs and tests can drive
    * it without a streaming query.
    *
    * `maxRetries` mirrors non-strict mode's 4-attempt budget
    * (receipts.rs:231); pass Int.MaxValue for strict-mode semantics
    * (unresolved receipts park forever instead of dropping — the
    * deterministic analogue of strict mode's infinite retry,
    * main.rs:261-272). `enableAccountChanges` / `enableAccessKeys` are
    * non-strict mode's two skipped tables (TROBLESHOOTING.md:104).
    * `collisionWindowBlocks` is the trailing window of `_tx_recent` and
    * `_blocks_recent` (≥ the 500-block interruption rewind);
    * `recoveryLookbackDays` bounds the mirrorless fallback's first,
    * pruned pass.
    *
    * `commitHook` is a crash-injection seam for tests: invoked with a
    * label at each step of the [[BatchCommit]] protocol ("staged",
    * "manifest", "moved", "committed"); throwing from it simulates a
    * crash at that point.
    */
  def processBatch(spark: SparkSession, norm0: DataFrame,
      warehouseDir: String, maxRetries: Int = 4,
      enableAccountChanges: Boolean = true,
      enableAccessKeys: Boolean = true,
      collisionWindowBlocks: Long = 1000L,
      mirror: Option[JdbcSink.ConnectionFactory] = None,
      recoveryLookbackDays: Int = 2,
      commitHook: String => Unit = _ => ()): Unit = {
    // Roll any interrupted previous batch back/forward FIRST — BEFORE
    // the empty-batch early return, so a torn commit is healed as soon
    // as the stream ticks, not only when data next arrives. Then read
    // every state table at the committed version; this batch's state
    // goes to version+1, invisible until the commit point.
    val committed = BatchCommit.recover(spark, warehouseDir)
    val state = BatchCommit.readState(spark, warehouseDir, committed)
    // Replay idempotency (S2's from-interruption −500 rewind,
    // configs.rs:118-119): the reference replays whole blocks and
    // relies on ON CONFLICT DO NOTHING; the parquet warehouse has no
    // PKs, so an already-processed block hash inside the bounded
    // `_blocks_recent` window is dropped WHOLE before any transform —
    // one state covers every per-block table. A block hash identifies
    // its content, so partial re-delivery cannot occur; same-height
    // forks have distinct hashes and pass through untouched.
    val normIn = state.get(BlocksRecentDir) match {
      case Some(seen) => norm0.join(
        broadcast(seen.select(col("block_hash").as("seen_bh"))),
        norm0("blockHash") === col("seen_bh"), "left_anti")
      case None => norm0
    }
    val norm = normIn.persist()
    try {
      // One job over the persisted batch answers every batch-level
      // question: is it empty (nothing new, or every block already
      // seen), the S9 block counter + latest-height gauge
      // (metrics.rs:6-14), the recovery floor's batch day, and whether
      // it holds a same-height fork.
      val stats = norm.agg(count(lit(1)),
        max(col("blockHeight").cast("long")),
        min(expr("CAST(blockTimestamp AS DECIMAL(38,0)) div 86400000000000")
          .cast("long")),
        forkTest).collect()(0)
      if (stats.getLong(0) == 0L) return
      val maxHeight = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      Metrics.recordBatch(stats.getLong(0), maxHeight)
      // Recovery watermark for the mirrorless lineage fallback: parents
      // of an in-flight receipt live within the replay window (the
      // reference rewinds 500 blocks ≈ minutes; lookback days are a
      // generous cover), so the J1/J2/J3 parquet reads prune to
      // `block_date >= floor-day − lookback` instead of O(history).
      // The floor folds in the OLDEST carried `_pending` receipt's day
      // — a parked receipt's parent lives near the PARK day, not this
      // batch's day, and a batch-day-only floor would hide it forever
      // (the reference's DB lookups have no horizon, receipts.rs:
      // 409-429).
      val minBatchDay = if (stats.isNullAt(2)) 0L else stats.getLong(2)
      val minDay = state.get(PendingDir).map { p =>
        val r = p.agg(min(
          expr("CAST(blockTimestamp AS DECIMAL(38,0)) div 86400000000000")
            .cast("long"))).collect()(0)
        if (r.isNullAt(0)) minBatchDay else math.min(minBatchDay, r.getLong(0))
      }.getOrElse(minBatchDay)
      // LocalDate.ofEpochDay → valueOf is a plain y/m/d construction —
      // no millis-via-local-timezone shift (same rationale as dayCol).
      val recoveryFloor = java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(minDay - recoveryLookbackDays))
      val fallback = mirror.fold[Fallback](
        WarehouseFallback(warehouseDir, recoveryFloor))(MirrorFallback(_))
      val out = dag(norm, stats.getBoolean(3), state, Some(fallback),
        maxRetries, maxHeight - collisionWindowBlocks)
      // Strict mode (maxRetries = MaxValue) never drops, so never logs.
      if (maxRetries != Int.MaxValue) logDropped(out.dropped)
      // Non-strict mode skips account_changes and the access-keys
      // registry (TROBLESHOOTING.md:104) and records which blocks it
      // skipped them for: re-index-range's backfill gates on THIS
      // ledger, not on inferred table presence (see the constant's
      // note); a later strict re-index appends the skipped deltas and
      // the compacted view converges.
      val skipped = Seq("account_changes" -> enableAccountChanges,
        "access_keys" -> enableAccessKeys).collect { case (t, false) => t }
      val ledger = if (skipped.isEmpty) Seq.empty else Seq(
        NonStrictBlocksTable -> norm.select(
          col("blockHash").as("block_hash"),
          lit(!enableAccountChanges).as("skipped_account_changes"),
          lit(!enableAccessKeys).as("skipped_access_keys")))
      BatchCommit.commit(spark, warehouseDir, committed, out.state,
        (out.tables -- skipped).toSeq ++ ledger, commitHook,
        written => mirror.foreach(mirrorWrite(_, written)))
    } finally norm.unpersist()
  }

  /** Non-strict drop logging (receipts.rs:93-104 parity): the reference
    * warns per skipped receipt with its id and context before moving
    * on; mirror that — id, retry budget, and the receipt's block
    * timestamp (its age) — capped at 100 lines per batch so a poisoned
    * feed can't flood the log.
    */
  private def logDropped(dropped: DataFrame): Unit = {
    val sample = dropped
      .select(col("r.receiptId"), col("blockTimestamp"), col("retries"))
      .limit(100).collect()
    if (sample.nonEmpty) {
      val total = if (sample.length < 100) sample.length.toLong
                  else dropped.count()
      Metrics.recordPendingDropped(total)
      sample.foreach { r =>
        System.err.println(s"[graft-stream] dropping receipt " +
          s"${r.getString(0)} after ${r.getInt(2)} retry batches " +
          s"(block_timestamp=${r.get(1)}): parent transaction never " +
          "resolved — non-strict mode skips it (receipts.rs:93-104)")
      }
      if (total > sample.length)
        System.err.println(s"[graft-stream] ... and " +
          s"${total - sample.length} more dropped receipts this batch")
    }
  }

  /** Dual-write to the JDBC mirror (S5/S7): ON CONFLICT DO NOTHING for
    * the append-only tables, guarded upserts for the mutable
    * registries. Idempotent by construction, so the mirror sits
    * OUTSIDE the parquet commit protocol — a replayed batch re-issues
    * the same statements harmlessly — and it keeps MirrorLookup's
    * lookup side current for the lineage fallbacks.
    */
  private def mirrorWrite(f: JdbcSink.ConnectionFactory,
      written: Seq[(String, DataFrame)]): Unit =
    written.filterNot(_._1.startsWith("_")).foreach { case (name, df) =>
      name match {
        case "accounts" => JdbcSink.write(
          df.select("account_id", "created_by_receipt_id",
            "deleted_by_receipt_id", "last_update_block_height"),
          f, JdbcSink.accountsUpsertSql)
        case "access_keys" => JdbcSink.write(
          df.select("public_key", "account_id",
            "created_by_receipt_id", "deleted_by_receipt_id",
            "permission_kind", "last_update_block_height"),
          f, JdbcSink.accessKeysUpsertSql)
        case _ => JdbcSink.write(df, f,
          JdbcSink.insertDoNothingSql(name, df.columns.toSeq))
      }
    }
}

/** Read-side helpers over the streaming warehouse. */
object Warehouse {

  def table(spark: SparkSession, warehouseDir: String, name: String): DataFrame =
    spark.read.parquet(s"$warehouseDir/$name")

  /** None when the table was never written (or only empty batches). */
  def tableOpt(spark: SparkSession, warehouseDir: String,
      name: String): Option[DataFrame] =
    scala.util.Try(table(spark, warehouseDir, name)).toOption

  /** First row per PK under a stable order. With [[BatchCommit]] the
    * warehouse is exactly-once-effective, so this is belt and braces
    * for readers racing an in-flight batch (see the delivery-guarantee
    * note on [[Stream]]), not a correctness requirement.
    */
  def dedupedByPk(df: DataFrame, pk: Seq[String],
      order: Seq[String]): DataFrame =
    Transforms.dedupPk(df, pk.map(col), order.map(col))

  /** Collapse appended accounts-registry deltas to the current state:
    * last writer (by last_update_block_height) wins per account; the
    * delete-annotation merge matches the reference's and_modify
    * (accounts.rs:119-193).
    */
  def accountsCurrent(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("account_id"))
      .agg(
        max_by(col("created_by_receipt_id"),
          when(col("created_by_receipt_id").isNotNull,
            col("last_update_block_height"))).as("created_by_receipt_id"),
        max_by(col("deleted_by_receipt_id"),
          col("last_update_block_height")).as("deleted_by_receipt_id"),
        max(col("last_update_block_height")).as("last_update_block_height"))

  def accessKeysCurrent(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("public_key"), col("account_id"))
      .agg(
        max_by(col("created_by_receipt_id"),
          when(col("created_by_receipt_id").isNotNull,
            col("last_update_block_height"))).as("created_by_receipt_id"),
        max_by(col("deleted_by_receipt_id"),
          col("last_update_block_height")).as("deleted_by_receipt_id"),
        // perm must come from the latest delta that saw an UPDATE
        // (created_by non-null ⟺ the batch had one) — a DELETE-only
        // batch's delta carries the FULL_ACCESS placeholder, which
        // must not shadow the real perm of the last UPDATE in an
        // earlier batch (access_keys.rs:55-64: the placeholder applies
        // only when NO update ever preceded the delete)
        coalesce(
          max_by(col("permission_kind"),
            when(col("created_by_receipt_id").isNotNull,
              col("last_update_block_height"))),
          lit("FULL_ACCESS")).as("permission_kind"),
        max(col("last_update_block_height")).as("last_update_block_height"))
}
