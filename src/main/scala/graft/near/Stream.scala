package graft.near

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    import spark.implicits._
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
        val norm0 = batch.select(col("value")).as[String]
          .map(BlockParser.parse _).toDF()
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

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    if (fs(spark, path).exists(new org.apache.hadoop.fs.Path(path)))
      // An all-empty write leaves a schema-less dir; treat as absent.
      scala.util.Try(spark.read.parquet(path)).toOption
    else None

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
      (v, readIfExists(spark, BatchCommit.statePath(warehouseDir, v, name)))
    }
    val (v1, df1) = attempt()
    if (BatchCommit.currentVersion(spark, warehouseDir) == v1) df1
    else attempt()._2
  }

  /** One microbatch of the §3.1 DAG. Public so batch jobs and tests
    * can drive it without a streaming query.
    *
    * `maxRetries` mirrors non-strict mode's 4-attempt budget
    * (receipts.rs:231); pass Int.MaxValue for strict-mode semantics
    * (unresolved receipts park forever instead of dropping — the
    * deterministic analogue of strict mode's infinite retry,
    * main.rs:261-272). `enableAccountChanges` / `enableEvents` mirror
    * the reference's cargo feature gates (indexer/Cargo.toml:43-45).
    *
    * `commitHook` is a crash-injection seam for tests: invoked with a
    * label at each step of the [[BatchCommit]] protocol ("staged",
    * "manifest", "moved", "committed"); throwing from it simulates a
    * crash at that point.
    */
  def processBatch(spark: SparkSession, norm0: DataFrame,
      warehouseDir: String, maxRetries: Int = 4,
      enableAccountChanges: Boolean = true,
      enableEvents: Boolean = true,
      enableAccessKeys: Boolean = true,
      collisionWindowBlocks: Long = 1000L,
      mirror: Option[JdbcSink.ConnectionFactory] = None,
      recoveryLookbackDays: Int = 2,
      fullRecoveryScan: Boolean = false,
      commitHook: String => Unit = _ => ()): Unit = {
    // Roll any interrupted previous batch back/forward FIRST — BEFORE
    // the empty-batch early return, so a torn commit is healed as soon
    // as the stream ticks, not only when data next arrives. Then read
    // every state table at the committed version; this batch's state
    // goes to version+1, invisible until the commit point.
    val committed = BatchCommit.recover(spark, warehouseDir)
    val nextVersion = committed + 1
    def readStateV(name: String): Option[DataFrame] =
      readIfExists(spark, BatchCommit.statePath(warehouseDir, committed, name))
    // State outputs are written together with the table stagings (see
    // the commit below), so they are only collected here.
    val stateWrites = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()
    def writeStateV(name: String, df: DataFrame): Unit =
      stateWrites += ((name, df))
    // Replay idempotency (S2's from-interruption −500 rewind,
    // configs.rs:118-119): the reference replays whole blocks and
    // relies on ON CONFLICT DO NOTHING; the parquet warehouse has no
    // PKs, so an already-processed block hash inside the bounded
    // `_blocks_recent` window is dropped WHOLE before any transform —
    // one state covers every per-block table. A block hash identifies
    // its content, so partial re-delivery cannot occur; same-height
    // forks have distinct hashes and pass through untouched.
    val blocksSeen = readStateV(BlocksRecentDir)
    val normIn = blocksSeen match {
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
      // it holds a same-height fork (more blocks than heights).
      val stats = norm.agg(count(lit(1)),
        max(col("blockHeight").cast("long")),
        min(expr("CAST(blockTimestamp AS DECIMAL(38,0)) div 86400000000000")
          .cast("long")),
        countDistinct(col("blockHeight"))).collect()(0)
      if (stats.getLong(0) == 0L) return
      val maxHeight = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      Metrics.recordBatch(stats.getLong(0), maxHeight)
      // Recovery watermark for the mirrorless lineage fallback: parents
      // of an in-flight receipt live within the replay window (the
      // reference rewinds 500 blocks ≈ minutes; lookback days are a
      // generous cover), so the J1/J2/J3 parquet reads below prune to
      // `block_date >= floor-day − lookback` instead of O(history).
      // The floor folds in the OLDEST carried `_pending` receipt's day
      // — a parked receipt's parent lives near the PARK day, not this
      // batch's day, and a batch-day-only floor would hide it forever
      // (the reference's DB lookups have no horizon, receipts.rs:
      // 409-429).
      val minBatchDay = if (stats.isNullAt(2)) 0L else stats.getLong(2)
      val pendingState = readStateV(PendingDir)
      val minDay = pendingState.map { p =>
        val r = p.agg(min(
          expr("CAST(blockTimestamp AS DECIMAL(38,0)) div 86400000000000")
            .cast("long"))).collect()(0)
        if (r.isNullAt(0)) minBatchDay else math.min(minBatchDay, r.getLong(0))
      }.getOrElse(minBatchDay)
      // LocalDate.ofEpochDay → valueOf is a plain y/m/d construction —
      // no millis-via-local-timezone shift (same rationale as dayCol).
      val recoveryFloor = java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(minDay - recoveryLookbackDays))
      def pruneRecovery(df: DataFrame): DataFrame =
        df.filter(col("block_date") >= lit(recoveryFloor))
      // Cross-batch issue84 handling (transactions.rs:43-89): within-
      // batch duplicates are resolved by transactionsBase; against
      // EARLIER batches the discriminator is the converted receipt id —
      // same hash + same receipt = fork re-delivery (dropped, PK
      // dedup), same hash + different receipt = genuine collision
      // (`_issue84_<height>` suffix). The lookup side is NOT the
      // warehouse (an O(history) scan per batch) but the `_tx_recent`
      // state: first-seen (hash, receipt) pairs from the trailing
      // `collisionWindowBlocks` blocks — the deterministic analogue of
      // the reference's bounded recent-tx cache. Collisions older than
      // the window are missed, the same trade the reference's eviction
      // makes; the state is broadcast-sized by construction.
      val txBase0 = Transforms.transactionsBase(norm)
      val txRecent = readStateV(TxRecentDir)
      val txBase = txRecent match {
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
      }
      val transactions = Transforms.transactions(txBase)
      // Fork-dedup windows are paid only when the batch actually holds
      // a same-height fork (see Ingest.allTables for the rationale).
      val hasForks = stats.getLong(0) > stats.getLong(3)
      def pkGuard(df: DataFrame, pk: Seq[org.apache.spark.sql.Column],
          order: Seq[org.apache.spark.sql.Column]): DataFrame =
        if (hasForks) Transforms.dedupPk(df, pk, order) else df
      val rBaseNew = pkGuard(Transforms.receiptsBase(norm),
          Seq(col("r.receiptId")), Seq(col("blockTimestamp"), col("blockHash")))
        .withColumn("retries", lit(0))
      val oBase = pkGuard(Transforms.outcomesBase(norm),
        Seq(col("o.receiptId")),
        Seq(col("blockTimestamp"), col("blockHash")))
      val outcomeReceipts = Transforms.executionOutcomeReceipts(oBase)
      val outputDataNew = Transforms.actionReceiptOutputData(rBaseNew)
      val dataReceiptsNew = Transforms.dataReceipts(rBaseNew)

      // Pending receipts from earlier batches re-enter the DAG; their
      // receipts row AND satellites are written in the batch where
      // they finally resolve (the reference skips satellites for
      // skipped receipts, receipts.rs:137-147).
      val rBase = pendingState
        .map(p => Transforms.dedupPk(rBaseNew.unionByName(p),
          Seq(col("r.receiptId")),
          Seq(col("blockTimestamp"), col("blockHash"), col("retries"))))
        .getOrElse(rBaseNew)
        .localCheckpoint(true)

      val newEdges = Lineage
        .edges(outcomeReceipts, outputDataNew, dataReceiptsNew)
        .withColumn("retries", lit(0))
      val edges = readStateV(PendingEdgesDir)
        .map(newEdges.unionByName(_)).getOrElse(newEdges)
        .localCheckpoint(true)
      val edgeSet = edges.select(col("child"), col("parent"))

      // Pass 1: resolve from this batch's transactions ∪ the carried
      // "announced but not yet arrived" map — mappings for receipt/data
      // ids whose edges were seen in earlier batches but whose receipt
      // rows haven't landed. Entries are dropped the batch their
      // receipt arrives, the remove-on-read parity of the reference's
      // cache (receipts.rs:191-202) — so the state stays bounded by
      // in-flight receipts, not chain length.
      val seeds = Lineage.seeds(transactions)
      val ahead = readStateV(LineageAheadDir)
      val seeded = ahead.map(seeds.unionByName(_)).getOrElse(seeds)
      val pass1 = Lineage.resolveGraph(seeded, edgeSet)

      val frontier = edgeSet.select(col("parent"))
        .unionByName(rBase.select(col("r.receiptId").as("parent")))
        .distinct()
        .join(pass1, col("parent") === col("child"), "left_anti")
        .localCheckpoint(true)

      // Warehouse fallback — the reference's three DB lookups
      // (J3 receipts.rs:409-429, J2 :348-375, J1 :249-264). Runs ONLY
      // when the frontier is non-empty: with the ahead map, in-order
      // delivery keeps it empty, so steady-state batches never rescan
      // warehouse history. With a JDBC `mirror` configured the lookups
      // are indexed point queries over the bounded frontier
      // (MirrorLookup — the reference's own access pattern); the
      // parquet joins below are the mirrorless O(history) recovery
      // route.
      val resolved = (if (frontier.isEmpty) pass1
      else mirror match {
        case Some(factory) =>
          // Point lookups run ON THE EXECUTORS (each partition of the
          // frontier opens its own mirror connection and resolves its
          // slice) — a worst-case recovery frontier never rides the
          // driver heap.
          val extra = MirrorLookup.resolveFrontierDistributed(factory, frontier)
          Lineage.resolveGraph(
            seeded.unionByName(pass1).unionByName(extra), edgeSet)
        case None =>
      {
        // The two time-partitioned lookup tables prune to the recovery
        // window (pruneRecovery); execution_outcome_receipts and
        // action_receipt_output_data carry no timestamp column (their
        // reference schema has none) and are narrow 2-3 column scans —
        // the expensive receipts/transactions history is what the
        // partition predicate bounds.
        def warehouseSeeds(fr: DataFrame, prune: Boolean): Seq[DataFrame] = {
          def bound(df: DataFrame) = if (prune) pruneRecovery(df) else df
          val whReceipts = readIfExists(spark, s"$warehouseDir/receipts")
            .map(df => bound(df).select(col("receipt_id"),
              col("originated_from_transaction_hash").as("tx")))
          val whTx = readIfExists(spark, s"$warehouseDir/transactions")
            .map(bound)
          val whEor = readIfExists(spark,
            s"$warehouseDir/execution_outcome_receipts")
          val whOutput = readIfExists(spark,
            s"$warehouseDir/action_receipt_output_data")
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
        // Pass 2: re-run the fixpoint with the (pruned) warehouse
        // seeds folded in.
        val pass2 = Lineage.resolveGraph(
          (Seq(seeded, pass1) ++ warehouseSeeds(frontier,
            prune = !fullRecoveryScan)).reduce(_ unionByName _), edgeSet)
        if (fullRecoveryScan) pass2
        else {
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
      }).localCheckpoint(true)

      // Carry forward mappings whose ids haven't arrived/been consumed.
      val consumed = rBase.select(col("r.receiptId").as("seen"))
        .unionByName(rBase.select(col("r.dataId").as("seen"))
          .filter(col("seen").isNotNull))
        .distinct()
      val aheadNext = resolved
        .join(consumed, col("child") === col("seen"), "left_anti")
        .select(col("child"), col("tx"))
      writeStateV(LineageAheadDir, aheadNext)
      val lineage = resolved.select(
        col("child").as("lineage_receipt_id"),
        col("tx").as("originated_from_transaction_hash"))
      val resolvedBase = rBase.join(lineage,
        rBase("r.receiptId") === lineage("lineage_receipt_id"), "left_semi")

      // Park what still didn't resolve; drop after maxRetries.
      // Checkpointed once: it is both written as next-batch state and
      // (in non-strict mode) filtered again for the drop log below —
      // residue is the tiny set of receipts still awaiting parents.
      val unresolvedAll = rBase
        .join(lineage, rBase("r.receiptId") === lineage("lineage_receipt_id"),
          "left_anti")
        .localCheckpoint(true)
      val unresolvedReceipts = unresolvedAll
        .filter(col("retries") < maxRetries)
        .withColumn("retries", col("retries") + 1)
      writeStateV(PendingDir, unresolvedReceipts)
      // Non-strict drop logging (receipts.rs:93-104 parity): the
      // reference warns per skipped receipt with its id and context
      // before moving on; mirror that — id, retry budget, and the
      // receipt's block timestamp (its age) — capped at 100 lines per
      // batch so a poisoned feed can't flood the log. Strict mode
      // (maxRetries = MaxValue) never drops, so never logs.
      if (maxRetries != Int.MaxValue) {
        val dropped = unresolvedAll.filter(col("retries") >= maxRetries)
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
      val unresolvedEdges = edges
        .join(resolved.select(col("child").as("rc")),
          col("child") === col("rc"), "left_anti")
        .filter(col("retries") < maxRetries)
        .withColumn("retries", col("retries") + 1)
      writeStateV(PendingEdgesDir, unresolvedEdges)

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
        "action_receipt_actions" ->
          Transforms.actionReceiptActions(resolvedBase),
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
        "accounts" ->
          Transforms.accountsRegistry(Transforms.accountEvents(norm)),
      ) ++ (if (enableAccessKeys)
        // non-strict mode skips the access-keys registry along with
        // account_changes (TROBLESHOOTING.md:104) — a later strict
        // re-index appends the skipped range's deltas and the
        // compacted view converges.
        Map("access_keys" ->
          Transforms.accessKeysRegistry(Transforms.accessKeyEvents(norm)))
      else Map.empty) ++ (if (enableAccountChanges)
        Map("account_changes" -> Transforms.accountChanges(norm))
      else Map.empty) ++ (if (!enableAccountChanges || !enableAccessKeys)
        // Non-strict ledger: re-index-range's backfill gates on THIS,
        // not on inferred table presence (see the constant's note).
        Map(NonStrictBlocksTable -> norm.select(
          col("blockHash").as("block_hash"),
          lit(!enableAccountChanges).as("skipped_account_changes"),
          lit(!enableAccessKeys).as("skipped_access_keys")))
      else Map.empty) ++ (if (enableEvents) {
        def eventPk(df: DataFrame) = pkGuard(df,
          Seq(col("emitted_for_receipt_id"),
            col("emitted_index_of_event_entry_in_shard")),
          Seq(col("emitted_at_block_timestamp")))
        Map(
          "assets__fungible_token_events" -> eventPk(Events.ftEvents(norm)),
          "assets__non_fungible_token_events" -> eventPk(Events.nftEvents(norm)))
      } else Map.empty)
      // Recent-hash states (no ordering hazard anymore — states and
      // table files become visible together at the commit point):
      // first-seen receipt per stored hash / processed block hashes,
      // both pruned to the trailing collision window (≥ the 500-block
      // interruption rewind).
      val batchPairs = txBase.select(
        col("transaction_hash").as("tx_hash"),
        col("t.convertedIntoReceiptId").as("cid"),
        col("blockHeight").cast("long").as("h"))
      val merged = txRecent.map(batchPairs.unionByName(_)).getOrElse(batchPairs)
      writeStateV(TxRecentDir,
        Transforms.dedupPk(merged, Seq(col("tx_hash")), Seq(col("h")))
          .filter(col("h") >= lit(maxHeight - collisionWindowBlocks)))
      val batchBlocks = norm.select(col("blockHash").as("block_hash"),
        col("blockHeight").cast("long").as("h"))
      val mergedBlocks =
        blocksSeen.map(batchBlocks.unionByName(_)).getOrElse(batchBlocks)
      writeStateV(BlocksRecentDir,
        Transforms.dedupPk(mergedBlocks, Seq(col("block_hash")),
          Seq(col("h")))
          .filter(col("h") >= lit(maxHeight - collisionWindowBlocks)))

      // Write every state and stage every table, all together and
      // without probing for emptiness: a write that produced no rows
      // leaves no state dir and adds no move (BatchCommit.stageBatch),
      // so an empty table still gets no live file. Then commit
      // atomically: manifest (the exact target file list) → moves →
      // pointer advance.
      val staged = BatchCommit.stageBatch(spark, warehouseDir, nextVersion,
        stateWrites.toSeq,
        tables.toSeq.map { case (name, df) =>
          TimePartitioned.get(name) match {
            case Some(ts) => (name,
              df.withColumn("block_date", dayCol(ts)), Some("block_date"))
            case None => (name, df, None)
          }
        })
      val stagedMoves = staged.flatMap(_._2)
      val written = staged.collect {
        case (name, moves) if moves.nonEmpty => (name, tables(name))
      }
      commitHook("staged")
      BatchCommit.writeManifest(spark, warehouseDir, nextVersion,
        stagedMoves.map(_._2))
      commitHook("manifest")
      BatchCommit.applyMoves(spark, warehouseDir, stagedMoves)
      commitHook("moved")
      // Dual-write to the JDBC mirror when configured (S5/S7):
      // ON CONFLICT DO NOTHING for the append-only tables, guarded
      // upserts for the mutable registries. Idempotent by construction,
      // so the mirror sits OUTSIDE the parquet commit protocol — a
      // replayed batch re-issues the same statements harmlessly — and
      // it keeps MirrorLookup's lookup side current for the lineage
      // fallbacks.
      mirror.foreach { f =>
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
      BatchCommit.advance(spark, warehouseDir, nextVersion)
      commitHook("committed")
      BatchCommit.cleanup(spark, warehouseDir, nextVersion)
    } finally norm.unpersist()
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
