package graft.near

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructField, StructType}

/** The aggregated query surface: the `aggregated__lockups` view
  * (SURVEY J4/J5), the block lookups (A1/A2), and the daily
  * circulating-supply computation (A3).
  */
object Views {

  private val D20 = DecimalType(20, 0)
  private val D38 = DecimalType(38, 0)

  /** aggregated__lockups (2021-08-04-151515.../up.sql:22-31):
    * accounts ⟕ receipts ⟕ blocks ⟕ receipts ⟕ blocks on lockup
    * accounts, i.e. each `%.lockup.near` account with the heights of
    * the blocks that included its creation and deletion receipts.
    *
    * The lifecycle is resolved once, on the driver: one scan of the
    * lockup accounts, one `receipt_id IN (…)` scan of `receipts`, one
    * `block_hash IN (…)` scan of `blocks` (each skipped when its key
    * list is empty), then the outer joins over the collected rows. The
    * result is a local relation, so a caller's plan over it never
    * re-derives `accounts` (a `Warehouse.accountsCurrent` aggregate
    * over the stream's deltas). Bound: the lockup accounts and their
    * lifecycle rows are held on the driver — the reference holds the
    * same set in memory while it walks it over RPC (main.rs:160-236).
    * The scans run when the view is built, not when it is read.
    */
  def aggregatedLockups(accounts: DataFrame, receipts: DataFrame,
      blocks: DataFrame): DataFrame = {
    val lockups = accounts.filter(col("account_id").endsWith(".lockup.near"))
      .select(col("account_id"), col("created_by_receipt_id"),
        col("deleted_by_receipt_id"))
      .collect()
    // key -> every value row of `df` with that key (duplicates kept, so
    // the outer joins below keep SQL's multiplicity)
    def lookup(df: DataFrame, key: String, value: String,
        keys: Seq[String]): Map[String, Seq[Any]] =
      if (keys.isEmpty) Map.empty
      else df.filter(col(key).isin(keys: _*)).select(col(key), col(value))
        .collect().toSeq.groupBy(_.getString(0))
        .map { case (k, rows) => k -> rows.map(_.get(1)) }
    val receiptIds = lockups.toSeq
      .flatMap(r => Seq(r.getString(1), r.getString(2))).filter(_ != null).distinct
    val blockOf = lookup(receipts, "receipt_id", "included_in_block_hash", receiptIds)
    val heightOf = lookup(blocks, "block_hash", "block_height",
      blockOf.values.flatten.collect { case h: String => h }.toSeq.distinct)
    // left-outer semantics: no match yields one NULL
    def outer(key: Any, m: Map[String, Seq[Any]]): Seq[Any] = key match {
      case k: String => m.getOrElse(k, Seq(null))
      case _ => Seq(null)
    }
    def heights(receiptId: String): Seq[Any] =
      outer(receiptId, blockOf).flatMap(outer(_, heightOf))
    val rows = lockups.toSeq.flatMap { r =>
      for (c <- heights(r.getString(1)); d <- heights(r.getString(2)))
        yield Row(r.getString(0), c, d)
    }
    val heightType = blocks.schema("block_height").dataType
    val schema = StructType(Seq(accounts.schema("account_id"),
      StructField("creation_block_height", heightType),
      StructField("deletion_block_height", heightType)))
    accounts.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** J5: lockup accounts live at `blockHeight`
    * (accounts.rs:202-252): NULL-tolerant containment of the height in
    * the [creation, deletion] interval.
    */
  def lockupAccountIdsAtHeight(lockupsView: DataFrame,
      blockHeight: Long): DataFrame =
    lockupsView.filter(liveAt(lit(blockHeight))).select(col("account_id"))

  private def liveAt(height: Column): Column =
    (col("creation_block_height").isNull ||
      col("creation_block_height") <= height) &&
    (col("deletion_block_height").isNull ||
      col("deletion_block_height") >= height)

  /** A1: latest block height (blocks.rs:29-40). */
  def latestBlockHeight(blocks: DataFrame): DataFrame =
    blocks.agg(max(col("block_height")).as("latest_block_height"))

  /** A2: latest block at-or-before a nanosecond timestamp
    * (blocks.rs:42-52). The reference's `ORDER BY block_timestamp DESC
    * LIMIT 1` is nondeterministic across same-height forks; we break
    * ties by height desc then hash asc so replays are stable.
    */
  def latestBlockBeforeTimestamp(blocks: DataFrame, tsNanos: BigDecimal): DataFrame =
    blocks.filter(col("block_timestamp") <= lit(tsNanos.bigDecimal).cast(D20))
      .orderBy(col("block_timestamp").desc, col("block_height").desc,
        col("block_hash").asc)
      .limit(1)

  /** A3: circulating supply for one block
    * (circulating-supply/src/main.rs:160-236).
    *
    * The reference walks lockup accounts sequentially over RPC; here
    * the per-lockup state is a DataFrame (produced by the RPC point
    * source S4 in production — stubbed as a table in tests) and the
    * locked-amount math runs distributed as a typed map, so the job
    * scales with lockup count. Sum/count aggregation is a single
    * partial-aggregated `agg`.
    *
    * @param block       one-row DataFrame (latestBlockBeforeTimestamp)
    * @param lockupsView aggregatedLockups output
    * @param states      lockup contract states at the block height, one
    *                    row per account (Lockup.State)
    * @param foundationLockedTokens Σ balances of the foundation
    *                    accounts [lockup.near, contributors.near]
    *                    (main.rs:208-218) — two RPC point reads
    */
  def circulatingSupply(spark: SparkSession, block: DataFrame,
      lockupsView: DataFrame, states: Dataset[Lockup.State],
      foundationLockedTokens: BigInt): DataFrame = {
    import spark.implicits._
    val b = block.select(col("block_hash"), col("block_height").cast("long"),
      col("block_timestamp").cast("long"), col("total_supply").cast(D38))
      .collect() match {
      case Array(row) => row
      case rows => throw new IllegalStateException(
        s"expected exactly one block row, got ${rows.length}")
    }
    val blockHash = b.getString(0)
    val blockHeight = b.getLong(1)
    val blockTs = b.getLong(2)
    val totalSupply = BigInt(b.getDecimal(3).toBigInteger)

    val liveIds = lockupAccountIdsAtHeight(lockupsView, blockHeight)
    // Per-lockup locked amount: distributed typed map (U256-safe math).
    val locked = states
      .join(broadcast(liveIds), states("accountId") === liveIds("account_id"))
      .drop("account_id").as[Lockup.State]
      .map(s => Lockup.lockedAmount(s, blockTs).toString)
      .toDF("locked")
      .select(col("locked").cast(D38).as("locked"))

    val agg = locked.agg(
      coalesce(sum(col("locked")), lit(0).cast(D38)).as("lockups_locked"),
      count(lit(1)).cast("int").as("total_lockups"),
      count(when(col("locked") > 0, 1)).cast("int").as("unfinished_lockups"))
      .collect()(0)
    val lockupsLocked = BigInt(agg.getDecimal(0).toBigInteger)
    val circulating = totalSupply - foundationLockedTokens - lockupsLocked

    Seq((blockTs.toString, blockHash, circulating.toString,
        totalSupply.toString, agg.getInt(1), agg.getInt(2),
        foundationLockedTokens.toString, lockupsLocked.toString))
      .toDF("ts", "computed_at_block_hash", "circ", "total",
        "total_lockup_contracts_count", "unfinished_lockup_contracts_count",
        "foundation", "lockups")
      .select(
        col("ts").cast(D20).as("computed_at_block_timestamp"),
        col("computed_at_block_hash"),
        col("circ").cast(D38).as("circulating_tokens_supply"),
        col("total").cast(D38).as("total_tokens_supply"),
        col("total_lockup_contracts_count"),
        col("unfinished_lockup_contracts_count"),
        col("foundation").cast(D38).as("foundation_locked_tokens"),
        col("lockups").cast(D38).as("lockups_locked_tokens"))
  }

  /** A3 without pre-built state tables: the lockup states and the
    * foundation balances come from the S4 RPC point source at the
    * block's height (main.rs:160-236 end-to-end).
    */
  def circulatingSupplyViaRpc(spark: SparkSession, block: DataFrame,
      lockupsView: DataFrame, transport: Rpc.Transport): DataFrame = {
    val blockHeight = block.select(col("block_height").cast("long"))
      .collect() match {
      case Array(row) => row.getLong(0)
      case rows => throw new IllegalStateException(
        s"expected exactly one block row, got ${rows.length}")
    }
    val states = Rpc.lockupStates(spark,
      lockupAccountIdsAtHeight(lockupsView, blockHeight), transport,
      blockHeight)
    circulatingSupply(spark, block, lockupsView, states,
      Rpc.foundationLockedTokens(transport, blockHeight))
  }

  /** A3 as a DAILY SERIES (main.rs:60-158 run over history): one
    * supply row per UTC day present in `blocks`, computed at the day's
    * LAST block (ties broken height desc then hash asc — same-height
    * forks share (timestamp, height)).
    *
    * Plan: one window over blocks partitioned by day picks the day's
    * block (rows per day are bounded — ~70k on mainnet — so no skew
    * risk); it is left-joined to the (lockup ⋈ state) rows live at that
    * block's height, a broadcast theta-join against the small lockup
    * side (`aggregatedLockups` is a local relation); the U256
    * locked-amount math runs distributed as a typed map per (day,
    * lockup) pair and carries the day's block fields, so one aggregate
    * per day yields the row — no join back to the day table. A day
    * with no live lockup keeps its row with zero locked tokens. The
    * series is small (≤ days since genesis) and is sorted in one
    * partition. Driver bound: the lockups view, as above.
    */
  def dailyCirculatingSupply(spark: SparkSession, blocks: DataFrame,
      lockupsView: DataFrame, states: Dataset[Lockup.State],
      foundationLockedTokens: BigInt): DataFrame = {
    import spark.implicits._
    val dayBlk = blocks
      .withColumn("day_ns",
        (col("block_timestamp") - (col("block_timestamp") % lit(86400000000000L)))
          .cast(D20))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("day_ns"))
          .orderBy(col("block_timestamp").desc, col("block_height").desc,
            col("block_hash").asc)))
      .filter(col("rn") === 1)
      .select(col("block_hash"),
        col("block_height").cast("long").as("day_block_height"),
        col("block_timestamp").cast("long").as("bts"),
        // a string through the typed map: its BigDecimal encoder is
        // DECIMAL(38,18), too narrow for a u128 supply
        col("total_supply").cast(D38).cast("string").as("total"))

    val lockupStates = lockupsView
      .join(states, lockupsView("account_id") === states("accountId"))
      .select(col("creation_block_height"), col("deletion_block_height"),
        struct(states.columns.toIndexedSeq.map(states(_)): _*).as("s"))

    val locked = dayBlk
      .join(broadcast(lockupStates), liveAt(col("day_block_height")), "left")
      .select(col("block_hash"), col("bts"), col("total"), col("s"))
      .as[(String, Long, String, Option[Lockup.State])]
      .map { case (hash, bts, total, s) =>
        (hash, bts, total, s.map(Lockup.lockedAmount(_, bts).toString)) }
      .toDF("block_hash", "bts", "total", "locked")
      .withColumn("locked", col("locked").cast(D38))

    val f = lit(new java.math.BigDecimal(foundationLockedTokens.bigInteger))
      .cast(D38)
    val lockupsLocked = coalesce(sum(col("locked")), lit(0).cast(D38)).cast(D38)
    locked.groupBy(col("block_hash"), col("bts"), col("total"))
      .agg(
        (col("total").cast(D38) - f - lockupsLocked).cast(D38)
          .as("circulating_tokens_supply"),
        count(col("locked")).cast("int").as("total_lockup_contracts_count"),
        count(when(col("locked") > 0, 1)).cast("int")
          .as("unfinished_lockup_contracts_count"),
        lockupsLocked.as("lockups_locked_tokens"))
      .select(
        col("bts").cast(D20).as("computed_at_block_timestamp"),
        col("block_hash").as("computed_at_block_hash"),
        col("circulating_tokens_supply"),
        col("total").cast(D38).as("total_tokens_supply"),
        col("total_lockup_contracts_count"),
        col("unfinished_lockup_contracts_count"),
        f.as("foundation_locked_tokens"),
        col("lockups_locked_tokens"))
      .coalesce(1)
      .sortWithinPartitions(col("computed_at_block_timestamp"))
  }

  /** Nanosecond start-of-day bucketing (main.rs:112-114):
    * `ts − ts % DAY` on raw nanos (NOT TimestampType — µs only).
    */
  def startOfDayNs(tsNanos: BigInt): BigInt = {
    val day = BigInt(86400L) * 1000000000L
    tsNanos - (tsNanos % day)
  }

  /** A4: skip-if-precomputed check
    * (aggregated/circulating_supply.rs:40-61) — point lookup by the
    * computed-at timestamp.
    */
  def supplyAlreadyComputed(aggregatedSupply: DataFrame,
      blockTsNanos: BigInt): Boolean =
    !aggregatedSupply.filter(col("computed_at_block_timestamp") ===
        lit(new java.math.BigDecimal(blockTsNanos.bigInteger)).cast(D20))
      .limit(1).isEmpty

  /** The daily job body (§3.2, main.rs:107-158): resolve the last
    * block before the day boundary (A2), skip if precomputed (A4),
    * else compute (A3). Returns None when already computed or no
    * block exists yet.
    */
  def computeDailyIfMissing(spark: SparkSession, blocks: DataFrame,
      lockupsView: DataFrame, aggregatedSupply: Option[DataFrame],
      states: Dataset[Lockup.State], foundationLockedTokens: BigInt,
      requestTsNanos: BigInt): Option[DataFrame] = {
    val dayStart = startOfDayNs(requestTsNanos)
    val block = latestBlockBeforeTimestamp(blocks, BigDecimal(dayStart))
    block.select(col("block_timestamp").cast("long")).collect() match {
      case Array(row) =>
        val ts = BigInt(row.getLong(0))
        val done = aggregatedSupply.exists(supplyAlreadyComputed(_, ts))
        if (done) None
        else Some(circulatingSupply(spark, block, lockupsView, states,
          foundationLockedTokens))
      case _ => None // no blocks loaded before the day boundary yet
    }
  }
}
