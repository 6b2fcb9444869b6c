package graft

import java.math.BigInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite
import graft.near.{Fixtures, Ingest, Lockup, Rpc, ScaleChain, Views}

/** Golden tests for the lockup math (lockup.rs:104-196), the
  * aggregated__lockups view (J4/J5), the block lookups (A1/A2), and
  * the circulating-supply job (A3), and the equivalence of the
  * driver-resolved lockup view and the one-aggregate daily series with
  * the broadcast-join plans they replaced ([[NearSupplySpec.Reference]]).
  */
class NearSupplySpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val tables: Map[String, DataFrame] =
    Ingest.allTables(Ingest.blocksFromJson(spark, Fixtures.chain).toDF())
      .map { case (k, v) => k -> v.cache() }

  private def state(
      amount: String = "1000000",
      withdrawn: String = "0",
      lockupDuration: Long = 0L,
      releaseDuration: Option[Long] = None,
      lockupTimestamp: Option[Long] = None,
      transfersTimestamp: Long = 1000L,
      vestingType: String = Lockup.VestingNone,
      vs: Option[(Long, Long, Long)] = None,
      terminatingUnvested: Option[String] = None) =
    Lockup.State("x.lockup.near", "unknown-hash", amount, withdrawn,
      lockupDuration, releaseDuration, lockupTimestamp, transfersTimestamp,
      vestingType, vs.map(_._1), vs.map(_._2), vs.map(_._3),
      terminatingUnvested)

  test("lockup math: fully locked before lockup timestamp") {
    // lockupTs = max(1000 + 500, 2000) = 2000 > blockTs 1500
    val s = state(lockupDuration = 500L, lockupTimestamp = Some(2000L),
      withdrawn = "100")
    assert(Lockup.lockedAmount(s, 1500L, hasBug = false) ==
      new BigInteger("999900"))
  }

  test("lockup math: linear release midpoint and completion") {
    // lockupTs = 1000; release over 1000 ns from 1000 → at 1500 half left
    val s = state(releaseDuration = Some(1000L))
    assert(Lockup.lockedAmount(s, 1500L, hasBug = false) ==
      new BigInteger("500000"))
    assert(Lockup.lockedAmount(s, 2000L, hasBug = false) == BigInteger.ZERO)
    // no release duration ⇒ nothing unreleased once lockupTs passed
    assert(Lockup.lockedAmount(state(), 1001L, hasBug = false) ==
      BigInteger.ZERO)
  }

  test("lockup math: the start-date bug changes the release origin") {
    // lockup_timestamp 2000 > transfers 1000; release 1000 ns.
    // Fixed: start=2000, at 2500 → 500/1000 left. Buggy: start=1000,
    // end=2000 ≤ 2500 → everything released.
    val s = state(releaseDuration = Some(1000L), lockupTimestamp = Some(2000L))
    assert(Lockup.lockedAmount(s, 2500L, hasBug = false) ==
      new BigInteger("500000"))
    assert(Lockup.lockedAmount(s, 2500L, hasBug = true) == BigInteger.ZERO)
  }

  test("lockup math: termination withdrawal saturates, vesting floor wins") {
    // released fully (0 unreleased) but vesting says 400000 unvested
    val s = state(releaseDuration = Some(1000L),
      vestingType = Lockup.VestingSchedule, vs = Some((0L, 0L, 10000L)))
    // at blockTs 6000: unreleased 0; unvested = 1000000×4000/10000
    assert(Lockup.lockedAmount(s, 6000L, hasBug = false) ==
      new BigInteger("400000"))
    // before cliff everything unvested
    val s2 = state(vestingType = Lockup.VestingSchedule,
      vs = Some((5000L, 8000L, 10000L)))
    assert(Lockup.lockedAmount(s2, 6000L, hasBug = false) ==
      new BigInteger("1000000"))
    // terminating: explicit unvested amount
    val s3 = state(vestingType = Lockup.VestingTerminating,
      terminatingUnvested = Some("123456"))
    assert(Lockup.lockedAmount(s3, 6000L, hasBug = false) ==
      new BigInteger("123456"))
  }

  test("lockup math: u128-scale amounts need >128-bit intermediates") {
    val nearMax = "340282366920938463463374607431768211455" // u128::MAX
    val s = state(amount = nearMax, releaseDuration = Some(1000000L))
    val got = Lockup.lockedAmount(s, 1000L + 300000L, hasBug = false)
    val expected = new BigInteger(nearMax)
      .multiply(BigInteger.valueOf(700000L))
      .divide(BigInteger.valueOf(1000000L))
    assert(got == expected)
  }

  test("lockup math: buggy code hash whitelist") {
    assert(Lockup.isBuggy("3kVY9qcVRoW3B5498SMX6R3rtSLiCdmBzKs7zcnzDJ7Q"))
    assert(!Lockup.isBuggy("4Pfw2RU6e35dUsHQQoFYfwX8KFFvSRNwMSNLXuSFHXrC"))
    assert(!Lockup.isBuggy("anything-else"))
  }

  test("aggregated__lockups view: creation height from receipt's block") {
    val v = Views.aggregatedLockups(tables("accounts"), tables("receipts"),
      tables("blocks")).collect()
    assert(v.length == 1)
    val r = v(0)
    assert(r.getAs[String]("account_id") == "fund.lockup.near")
    assert(r.getAs[java.math.BigDecimal]("creation_block_height").intValue == 102)
    assert(r.getAs[Any]("deletion_block_height") == null)
  }

  test("lockup liveness interval filter (J5)") {
    val v = Views.aggregatedLockups(tables("accounts"), tables("receipts"),
      tables("blocks"))
    assert(Views.lockupAccountIdsAtHeight(v, 102L).count() == 1)
    assert(Views.lockupAccountIdsAtHeight(v, 103L).count() == 1) // no deletion
    assert(Views.lockupAccountIdsAtHeight(v, 101L).count() == 0) // pre-creation
  }

  test("block lookups A1/A2: latest height and as-of with fork tiebreak") {
    assert(Views.latestBlockHeight(tables("blocks")).collect()(0)
      .getAs[java.math.BigDecimal]("latest_block_height").intValue == 102)
    val asOf = Views.latestBlockBeforeTimestamp(tables("blocks"),
      BigDecimal("1700000002000000000")).collect()(0)
    assert(asOf.getAs[String]("block_hash") == "B102a") // hash-asc tiebreak
    val earlier = Views.latestBlockBeforeTimestamp(tables("blocks"),
      BigDecimal("1700000001500000000")).collect()(0)
    assert(earlier.getAs[String]("block_hash") == "B101")
  }

  test("circulating supply (A3): formula over fixture lockups") {
    import spark.implicits._
    val block = Views.latestBlockBeforeTimestamp(tables("blocks"),
      BigDecimal("1700000002000000000"))
    val v = Views.aggregatedLockups(tables("accounts"), tables("receipts"),
      tables("blocks"))
    val row = Views.circulatingSupply(spark, block, v,
      spark.createDataset(Fixtures.lockupStates),
      Fixtures.foundationLocked).collect()(0)

    val blockTs = 1700000002000000000L
    val expectedLocked = Lockup.lockedAmount(Fixtures.lockupStates.head, blockTs)
    assert(expectedLocked.signum > 0) // mid-release: partially locked
    val total = BigInt("1178709068419829947981959148837955")
    val expectedCirc =
      total - Fixtures.foundationLocked - BigInt(expectedLocked)

    assert(row.getAs[String]("computed_at_block_hash") == "B102a")
    assert(BigInt(row.getAs[java.math.BigDecimal]("computed_at_block_timestamp")
      .toBigInteger) == BigInt(blockTs))
    assert(BigInt(row.getAs[java.math.BigDecimal]("lockups_locked_tokens")
      .toBigInteger) == BigInt(expectedLocked))
    assert(BigInt(row.getAs[java.math.BigDecimal]("circulating_tokens_supply")
      .toBigInteger) == expectedCirc)
    assert(row.getAs[Int]("total_lockup_contracts_count") == 1)
    assert(row.getAs[Int]("unfinished_lockup_contracts_count") == 1)
  }

  test("start-of-day nanosecond bucketing") {
    assert(Views.startOfDayNs(BigInt("1700000002000000000")) ==
      BigInt("1699920000000000000"))
    assert(Views.startOfDayNs(BigInt("1699920000000000000")) ==
      BigInt("1699920000000000000"))
  }

  // ------------------------------------------------------------------
  // Equivalence with the broadcast-join plans, over the ScaleChain
  // (same-height forks included), plus the job-count guard.

  import NearSupplySpec._

  private lazy val scaleTables: Map[Long, Map[String, DataFrame]] =
    Seq(1L, 2L, 3L).map { seed =>
      seed -> Ingest.allTables(Ingest.blocksFromJson(spark,
          ScaleChain.chain(seed, 256)).toDF())
        .filter { case (k, _) => Set("accounts", "receipts", "blocks")(k) }
        .map { case (k, v) => k -> v.cache() }
    }.toMap

  private def states: Dataset[Lockup.State] = {
    import spark.implicits._
    spark.createDataset(ScaleChain.lockupStates)
  }

  private def newView(t: Map[String, DataFrame]) =
    Views.aggregatedLockups(t("accounts"), t("receipts"), t("blocks"))
  private def refView(t: Map[String, DataFrame]) =
    Reference.aggregatedLockups(t("accounts"), t("receipts"), t("blocks"))

  private def newSeries(t: Map[String, DataFrame], v: DataFrame,
      st: Dataset[Lockup.State]) =
    Views.dailyCirculatingSupply(spark, t("blocks"), v, st,
      Fixtures.foundationLocked)
  private def refSeries(t: Map[String, DataFrame], v: DataFrame,
      st: Dataset[Lockup.State]) =
    Reference.dailyCirculatingSupply(spark, t("blocks"), v, st,
      Fixtures.foundationLocked)

  /** Same schema and the same rows as multisets. */
  private def assertSameRows(got: DataFrame, want: DataFrame,
      what: String): Seq[org.apache.spark.sql.Row] = {
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)), s"$what: schema")
    val g = got.collect().toSeq
    val w = want.collect().toSeq
    def bag(rows: Seq[org.apache.spark.sql.Row]) =
      rows.groupBy(_.toSeq).map { case (k, v) => k -> v.size }
    assert(bag(g) == bag(w), s"$what:\n got  ${g.mkString("\n      ")}" +
      s"\n want ${w.mkString("\n      ")}")
    g
  }

  test("lockup view and daily series equal the broadcast-join plans (seeds 1-3)") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val t = scaleTables(seed)
      val v = assertSameRows(newView(t), refView(t), s"view, seed $seed")
      assert(v.size == 6, s"seed $seed: ${v.size} lockups")
      assert(v.exists(_.get(2) != null), s"seed $seed: no deleted lockup")
      val days = assertSameRows(newSeries(t, newView(t), states),
        refSeries(t, refView(t), states), s"series, seed $seed")
      assert(days.size > 20, s"seed $seed: ${days.size} days")
      assert(days.map(_.getAs[Int]("total_lockup_contracts_count")).toSet.size > 2)
      // sorted by the day's block timestamp
      val ts = days.map(_.getAs[java.math.BigDecimal]("computed_at_block_timestamp"))
      assert(ts == ts.sortWith(_.compareTo(_) < 0))
    }
  }

  test("lockup view edge cases: no lockup account, no state, no deletion receipt") {
    val t = scaleTables(1L)
    // no `.lockup.near` account: empty IN lists, no failure, zero-lockup days
    val none = t + ("accounts" ->
      t("accounts").filter(!col("account_id").endsWith(".lockup.near")))
    assert(assertSameRows(newView(none), refView(none), "no lockups").isEmpty)
    val zero = assertSameRows(newSeries(none, newView(none), states),
      refSeries(none, refView(none), states), "series, no lockups")
    assert(zero.nonEmpty &&
      zero.forall(_.getAs[Int]("total_lockup_contracts_count") == 0))
    // a live lockup with no state row
    val fewer = states.filter(col("accountId") =!= "fund0.lockup.near")
    assertSameRows(newSeries(t, newView(t), fewer),
      refSeries(t, refView(t), fewer), "series, lockup without state")
    // a lockup whose deletion receipt is not in `receipts`
    val deletions = t("accounts").filter(col("account_id").endsWith(".lockup.near") &&
      col("deleted_by_receipt_id").isNotNull).select("deleted_by_receipt_id")
      .collect().map(_.getString(0)).toSeq
    assert(deletions.nonEmpty)
    val lost = t + ("receipts" ->
      t("receipts").filter(!col("receipt_id").isin(deletions: _*)))
    val lv = assertSameRows(newView(lost), refView(lost), "view, lost deletion")
    assert(lv.forall(_.get(2) == null))
    assertSameRows(newSeries(lost, newView(lost), states),
      refSeries(lost, refView(lost), states), "series, lost deletion")
  }

  test("daily series over the lockup view runs in at most 8 Spark jobs") {
    // 3 for the view (accounts, receipts IN, blocks IN), 5 for the
    // series; the broadcast-join plans ran 26 (17 for the view)
    val t = scaleTables(1L)
    refSeries(t, refView(t), states).collect() // caches materialised
    val jobs = countJobs(spark) {
      newSeries(t, newView(t), states).collect()
    }
    assert(jobs <= 8, s"$jobs Spark jobs")
  }

  test("the daily supply job and the RPC supply scan blocks once per call") {
    // Both read the A2 block twice (its timestamp or height, then its
    // fields); a lazy lookup re-ran the top-1 sort over `blocks` per
    // read: 2 scans and 5 Spark jobs per call.
    val t = scaleTables(1L)
    val n = t("blocks").count()
    val read = spark.sparkContext.longAccumulator("blocks rows read")
    val counted = udf((_: String) => { read.add(1L); true }).asNondeterministic()
    val blocks = t("blocks").filter(counted(col("block_hash")))
    val v = newView(t)
    val lastTs = BigInt(t("blocks").agg(max(col("block_timestamp")))
      .head().getDecimal(0).toBigInteger)
    def scansAndJobs(body: => Unit): (Double, Int) = {
      read.reset()
      val jobs = countJobs(spark)(body)
      (read.value.toDouble / n, jobs)
    }
    val (dailyScans, dailyJobs) = scansAndJobs {
      val day = Views.computeDailyIfMissing(spark, blocks, v, None, states,
        Fixtures.foundationLocked, lastTs)
      assert(day.get.collect().length == 1)
    }
    assert(dailyScans == 1.0, s"daily job: blocks scanned $dailyScans times")
    assert(dailyJobs <= 4, s"daily job: $dailyJobs Spark jobs")
    val (rpcScans, rpcJobs) = scansAndJobs {
      val block = Views.latestBlockBeforeTimestamp(blocks, BigDecimal(lastTs))
      val row = Views.circulatingSupplyViaRpc(spark, block, v,
        new ScaleTransport).collect()
      assert(row.length == 1 && row(0).getAs[Int]("total_lockup_contracts_count") > 0)
    }
    assert(rpcScans == 1.0, s"RPC supply: blocks scanned $rpcScans times")
    assert(rpcJobs <= 4, s"RPC supply: $rpcJobs Spark jobs")
  }
}

object NearSupplySpec {

  /** Jobs started while `body` runs on this thread (broadcasts and
    * adaptive stages included: they inherit the thread's properties).
    */
  def countJobs(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.jobs") == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.jobs", tag)
    try body
    finally {
      sc.setLocalProperty("graft.test.jobs", null)
      org.apache.spark.graft.ListenerSync.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  /** RPC point source over ScaleChain's lockup states; foundation
    * accounts hold nothing.
    */
  final class ScaleTransport extends Rpc.Transport {
    @transient private lazy val mapper =
      new com.fasterxml.jackson.databind.ObjectMapper()
    def post(body: String): String = {
      val params = mapper.readTree(body).get("params")
      val state = ScaleChain.lockupStates
        .find(_.accountId == params.get("account_id").asText())
      params.get("request_type").asText() match {
        case "view_state" =>
          val v = java.util.Base64.getEncoder.encodeToString(
            NearRpcFixtures.encodeContract(state.get))
          s"""{"result":{"values":[{"key":"U1RBVEU=","value":"$v"}]}}"""
        case "view_account" =>
          val hash = state.fold("11111111111111111111111111111111")(_.codeHash)
          s"""{"result":{"amount":"0","locked":"0","code_hash":"$hash","storage_usage":1000}}"""
      }
    }
  }

  /** The lockup view and daily series as four broadcast semi-joins and
    * a theta-join + re-join: the plans `Views` ran before the lifecycle
    * was resolved on the driver, kept as the equivalence reference.
    */
  object Reference {
    private val D20 = DecimalType(20, 0)
    private val D38 = DecimalType(38, 0)

    def aggregatedLockups(accounts: DataFrame, receipts: DataFrame,
        blocks: DataFrame): DataFrame = {
      val lockups = accounts.filter(col("account_id").endsWith(".lockup.near"))
      def lifecycleReceipts(idCol: String, outId: String, outBlock: String) =
        receipts
          .join(broadcast(lockups.select(col(idCol).as("want"))
            .filter(col("want").isNotNull).distinct()),
            col("receipt_id") === col("want"), "left_semi")
          .select(col("receipt_id").as(outId),
            col("included_in_block_hash").as(outBlock))
      val rStart = lifecycleReceipts("created_by_receipt_id", "rs_id", "rs_block")
      val rEnd = lifecycleReceipts("deleted_by_receipt_id", "re_id", "re_block")
      def blockHeights(blockCol: String, outHash: String, outHeight: String,
          src: DataFrame) =
        blocks
          .join(broadcast(src.select(col(blockCol).as("want")).distinct()),
            col("block_hash") === col("want"), "left_semi")
          .select(col("block_hash").as(outHash), col("block_height").as(outHeight))
      val bStart = blockHeights("rs_block", "bs_hash", "creation_block_height", rStart)
      val bEnd = blockHeights("re_block", "be_hash", "deletion_block_height", rEnd)
      lockups
        .join(broadcast(rStart), col("created_by_receipt_id") === col("rs_id"), "left")
        .join(broadcast(bStart), col("rs_block") === col("bs_hash"), "left")
        .join(broadcast(rEnd), col("deleted_by_receipt_id") === col("re_id"), "left")
        .join(broadcast(bEnd), col("re_block") === col("be_hash"), "left")
        .select(col("account_id"), col("creation_block_height"),
          col("deletion_block_height"))
    }

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
        .select(col("day_ns"), col("block_hash"),
          col("block_height").cast("long").as("day_block_height"),
          col("block_timestamp"), col("total_supply"))

      val live = lockupsView.join(
          broadcast(dayBlk.select(col("day_ns").cast("long").as("day"),
            col("day_block_height"),
            col("block_timestamp").cast("long").as("bts"))),
          (col("creation_block_height").isNull ||
            col("creation_block_height") <= col("day_block_height")) &&
          (col("deletion_block_height").isNull ||
            col("deletion_block_height") >= col("day_block_height")))
        .select(col("day"), col("account_id"), col("bts"))

      val locked = states
        .join(live, states("accountId") === live("account_id"))
        .select(col("day"), col("bts"),
          struct(states.columns.toIndexedSeq.map(states(_)): _*).as("s"))
        .as[(Long, Long, Lockup.State)]
        .map { case (day, bts, s) => (day, Lockup.lockedAmount(s, bts).toString) }
        .toDF("day", "locked")
        .select(col("day"), col("locked").cast(D38).as("locked"))

      val agg = locked.groupBy(col("day"))
        .agg(sum(col("locked")).cast(D38).as("lockups_locked"),
          count(lit(1)).cast("int").as("total_lockups"),
          count(when(col("locked") > 0, 1)).cast("int").as("unfinished_lockups"))

      val f = lit(new java.math.BigDecimal(foundationLockedTokens.bigInteger))
        .cast(D38)
      dayBlk.join(agg, dayBlk("day_ns").cast("long") === agg("day"), "left")
        .select(
          col("block_timestamp").cast(D20).as("computed_at_block_timestamp"),
          col("block_hash").as("computed_at_block_hash"),
          (col("total_supply").cast(D38) - f -
            coalesce(col("lockups_locked"), lit(0).cast(D38))).cast(D38)
            .as("circulating_tokens_supply"),
          col("total_supply").cast(D38).as("total_tokens_supply"),
          coalesce(col("total_lockups"), lit(0)).cast("int")
            .as("total_lockup_contracts_count"),
          coalesce(col("unfinished_lockups"), lit(0)).cast("int")
            .as("unfinished_lockup_contracts_count"),
          f.as("foundation_locked_tokens"),
          coalesce(col("lockups_locked"), lit(0).cast(D38)).cast(D38)
            .as("lockups_locked_tokens"))
        .orderBy(col("computed_at_block_timestamp"))
    }
  }
}
