package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.near.{Fixtures, JdbcSink, MirrorLookup, Stream, Warehouse}

/** java.sql proxy answering the three MirrorLookup point queries from
  * canned (id → tx) maps; records every SQL issued.
  */
object MirrorStub {
  import java.lang.reflect.{InvocationHandler, Method, Proxy}
  import java.sql.{Connection, PreparedStatement, ResultSet}
  import scala.collection.mutable

  val issued = mutable.ArrayBuffer[String]()
  val inserts = mutable.ArrayBuffer[String]() // executeBatch'd SQL
  var j3, j2, j1 = Map.empty[String, String]
  def reset(j3m: Map[String, String], j2m: Map[String, String],
      j1m: Map[String, String]): Unit =
    synchronized { issued.clear(); inserts.clear(); j3 = j3m; j2 = j2m; j1 = j1m }

  private class RsHandler(rows: Seq[(String, String)]) extends InvocationHandler {
    private var i = -1
    def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "next" => i += 1; java.lang.Boolean.valueOf(i < rows.length)
        case "getString" =>
          val c = args(0).asInstanceOf[Int]
          if (c == 1) rows(i)._1 else rows(i)._2
        case _ => null
      }
  }

  private class PsHandler(sql: String) extends InvocationHandler {
    private val bound = mutable.ArrayBuffer[String]()
    def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "setString" => bound += args(1).asInstanceOf[String]; null
        case n if n.startsWith("set") => null
        case "addBatch" | "clearBatch" => null
        case "executeBatch" =>
          MirrorStub.synchronized { MirrorStub.inserts += sql }
          Array.empty[Int]
        case "executeQuery" =>
          MirrorStub.synchronized { MirrorStub.issued += sql }
          val table =
            if (sql.startsWith(MirrorLookup.J3Sql.take(40))) j3
            else if (sql.startsWith(MirrorLookup.J2Sql.take(40))) j2
            else j1
          val rows = bound.toSeq.flatMap(id => table.get(id).map(id -> _))
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[ResultSet]), new RsHandler(rows))
            .asInstanceOf[ResultSet]
        case "close" => null
        case _ => null
      }
  }

  class Factory extends JdbcSink.ConnectionFactory {
    def connect(): Connection = Proxy.newProxyInstance(
      getClass.getClassLoader, Array(classOf[Connection]),
      (proxy: Any, m: Method, args: Array[AnyRef]) => m.getName match {
        case "prepareStatement" =>
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[PreparedStatement]),
            new PsHandler(args(0).asInstanceOf[String]))
        case "close" => null
        case _ => null
      }).asInstanceOf[Connection]
  }
}

/** End-to-end Structured-Streaming ingestion (S1/S2/§2.9): block files
  * land in a directory across multiple microbatches; the warehouse must
  * converge to the same tables as the one-shot batch run — including
  * receipts whose parent transaction lives in an EARLIER microbatch
  * (the warehouse-fallback lineage path J1/J2/J3).
  */
class NearStreamSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeBlocks(dir: String, blocks: Seq[(String, String)]): Unit =
    blocks.foreach { case (name, json) =>
      Files.write(Paths.get(dir, s"$name.json"), json.getBytes("UTF-8"))
    }

  private def runOnce(input: String, wh: String, ckpt: String): Unit = {
    val q = Stream.run(spark, input, wh, ckpt)
    q.awaitTermination()
  }

  private def norm(js: Seq[String]) =
    graft.near.Ingest.blocksFromJson(spark, js).toDF()

  /** Sorted rows of a table, columns in `cols` order, as strings. */
  private def rows(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq

  /** The streamed warehouse holds exactly the batch path's rows for
    * `blocks`, table by table; the registries are compared as their
    * folded current state.
    */
  private def assertMatchesBatch(wh: String, blocks: Seq[String]): Unit = {
    val batch = graft.near.Ingest.allTables(norm(blocks))
    graft.queries.NearQueries.StreamedGateTables.toSeq.sorted.foreach { t =>
      val fold: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame = t match {
        case "accounts" => Warehouse.accountsCurrent
        case "access_keys" => Warehouse.accessKeysCurrent
        case _ => identity
      }
      val want = fold(batch(t))
      val got = Warehouse.tableOpt(spark, wh, t).map(fold)
        .map(rows(_, want.columns.toSeq)).getOrElse(Seq.empty)
      assert(got == rows(want, want.columns.toSeq),
        s"$t: streamed rows differ from the batch path")
    }
  }

  /** Committed parquet files with a zero row count in their footer,
    * under the 17 table dirs and the committed state version.
    */
  private def zeroRowFiles(wh: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val v = graft.near.BatchCommit.currentVersion(spark, wh)
    val dirs = graft.queries.NearQueries.StreamedGateTables.toSeq
      .map(t => Paths.get(wh, t)) :+ Paths.get(wh, "_state", s"v$v")
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.filter(Files.exists(_)).flatMap { d =>
      val w = Files.walk(d)
      try w.iterator().asScala.toList finally w.close()
    }.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filter { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf))
        try r.getRecordCount == 0L finally r.close()
      }.map(_.toString)
  }

  test("commit protocol refuses non-atomic-rename object stores") {
    // The manifest protocol is sound only under atomic rename; on
    // copy+delete stores a mid-rename crash silently voids exactly-once,
    // so the warehouse must fail fast instead.
    Seq("s3a://bucket/wh", "gs://bucket/wh", "abfss://c@a.dfs/wh")
      .foreach { uri =>
        val e = intercept[IllegalArgumentException] {
          graft.near.BatchCommit.recover(spark, uri)
        }
        assert(e.getMessage.contains("atomic rename"), uri)
      }
  }

  test("empty batch still heals a torn commit (recovery runs before the early return)") {
    val wh = Files.createTempDirectory("graft_wh_").toString
    import spark.implicits._
    // Fake an interrupted batch: a live-table file plus a MANIFEST
    // listing it at an uncommitted version.
    val stray = s"$wh/blocks/part-torn.parquet"
    Files.createDirectories(Paths.get(s"$wh/blocks"))
    Files.write(Paths.get(stray), Array[Byte](1, 2, 3))
    graft.near.BatchCommit.writeManifest(spark, wh, 1L, Seq(stray))
    // An EMPTY batch must roll it back — readers must not see the torn
    // prefix until data happens to arrive.
    val empty = graft.near.Ingest.blocksFromJson(spark, Seq.empty[String]).toDF()
    graft.near.Stream.processBatch(spark, empty, wh)
    assert(!Files.exists(Paths.get(stray)), "torn file survived an empty batch")
  }

  test("streamed chain converges to batch tables incl. cross-batch lineage") {
    val root = Files.createTempDirectory("graft_stream").toString
    val input = s"$root/input"; val wh = s"$root/wh"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(input))
    val chain = Fixtures.chain

    // Microbatch 1: block 100 only.
    writeBlocks(input, Seq("b100" -> chain(0)))
    runOnce(input, wh, ckpt)

    val receipts1 = Warehouse.table(spark, wh, "receipts")
    assert(receipts1.select("receipt_id").collect().map(_.getString(0)).toSet
      == Set("R1"))

    // Microbatch 2: the rest of the chain. R3 (produced by R1's outcome
    // in batch 1) and R5 (data receipt for D1 declared in batch 1) must
    // resolve via the warehouse fallback; orphan R6 must park then drop.
    writeBlocks(input, Seq("b101" -> chain(1), "b102a" -> chain(2),
      "b102b" -> chain(3)))
    runOnce(input, wh, ckpt)

    val receipts = Warehouse.table(spark, wh, "receipts")
      .select("receipt_id", "originated_from_transaction_hash").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(receipts("R1") == "T1")
    assert(receipts("R3") == "T1") // cross-batch via J2 fallback
    assert(receipts("R5") == "T1") // cross-batch data-id via J1 fallback
    assert(receipts("R10") == "T5")
    assert(receipts("R12") == "T7")
    assert(!receipts.contains("R6")) // orphan: parked, not written
    assert(receipts.size == 5)

    // Tables written once per arrival (no duplicates from pending).
    val txs = Warehouse.table(spark, wh, "transactions")
    assert(txs.count() == txs.select("transaction_hash").distinct().count())
    val ar = Warehouse.table(spark, wh, "action_receipts")
    assert(ar.count() == ar.select("receipt_id").distinct().count())

    // Day partitioning materialized on disk for time-partitioned tables.
    val bls = Files.list(Paths.get(s"$wh/blocks"))
    val parts = try bls.toArray.map(_.toString) finally bls.close()
    assert(parts.nonEmpty)
    assert(parts.exists(_.contains("block_date=2023-11-14")),
      s"expected day partition dir, got ${parts.mkString(",")}")
    // …and a day-ranged read PRUNES at the scan (the 100 TB read path:
    // a time-predicate query touches only its day's files).
    val prunedScan = Warehouse.table(spark, wh, "blocks")
      .filter(col("block_date") === "2023-11-14")
      .queryExecution.executedPlan.toString
    assert(prunedScan.contains("PartitionFilters: [isnotnull(block_date"),
      prunedScan.take(2000))

    // Registry deltas collapse to the same current state as batch mode.
    val accounts = Warehouse.accountsCurrent(
      Warehouse.table(spark, wh, "accounts")).collect()
      .map(r => r.getAs[String]("account_id") -> r).toMap
    assert(accounts("carol.near").getAs[String]("created_by_receipt_id") == "R2")
    assert(accounts("carol.near").getAs[String]("deleted_by_receipt_id") == "R7")
    assert(accounts("carol.near")
      .getAs[java.math.BigDecimal]("last_update_block_height").intValue == 102)

    // Gate-coverage guard: every table processBatch writes must be in
    // the streamed VOLUME gate's read-back set — a table cannot join
    // the streaming path without its streamed twin being hash-checked.
    val wls = Files.list(Paths.get(wh))
    val written = try wls.toArray.map(_.toString)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filterNot(_.startsWith("_")).toSet
    finally wls.close()
    val ungated = written -- graft.queries.NearQueries.StreamedGateTables
    assert(ungated.isEmpty,
      s"streamed tables missing from the volume gate: ${ungated.mkString(",")}")
    // …and membership in the list is not enough: each gate table's
    // streamed entry must actually be REGISTERED in both the query map
    // and the oracle map, or the hash gate never runs for it.
    graft.queries.NearQueries.StreamedGateSuffix.foreach {
      case (table, suffix) =>
        val entry = s"near_scale_streamed_$suffix"
        assert(SparkEntry.queries.contains(entry),
          s"$table: no $entry in SparkEntry.queries")
        assert(SparkEntry.oracleSql.contains(entry),
          s"$table: no $entry oracle — the twin is never hash-checked")
    }

    // Orphan R6 parked with retry budget, then dropped after maxRetries
    // batches: drive empty-ish batches by adding fork-only blocks.
    val pendingAfter2 = Stream.stateTable(spark, wh, Stream.PendingDir).get
    assert(pendingAfter2.select("r.receiptId").collect()
      .map(_.getString(0)).toSet == Set("R6"))
  }

  test("non-strict drop warns per receipt and meters the count") {
    // receipts.rs:93-104 parity: when the retry budget is exhausted,
    // each skipped receipt is named in a warn (id + retries + block
    // timestamp) and counted, instead of vanishing silently.
    val root = Files.createTempDirectory("graft_stream_drop").toString
    val wh = s"$root/wh"
    val chain = Fixtures.chain
    import SparkTestSession.spark.implicits._
    def norm(js: String*) = graft.near.Ingest
      .blocksFromJson(spark, js).toDF()
    graft.near.Metrics.reset()

    // Batch 1: block 101 FIRST — R3/R5 (parents in block 100) and
    // orphan R6 all park with retries=1 under a 1-retry budget.
    Stream.processBatch(spark, norm(chain(1)), wh, maxRetries = 1)
    val parked = Stream.stateTable(spark, wh, Stream.PendingDir).get
      .select("r.receiptId").collect().map(_.getString(0)).toSet
    assert(parked == Set("R3", "R5", "R6"))
    assert(graft.near.Metrics.pendingDroppedReceipts.get == 0)

    // Batch 2: block 100 arrives. R3/R5 resolve from the carried
    // pending state + this batch's seeds; only the true orphan R6
    // exhausts its budget and is dropped — warned and metered.
    val captured = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(captured, true, "UTF-8"))
    try Stream.processBatch(spark, norm(chain(0)), wh, maxRetries = 1)
    finally System.setErr(prevErr)
    assert(graft.near.Metrics.pendingDroppedReceipts.get == 1)
    val warned = captured.toString("UTF-8")
    assert(warned.contains("dropping receipt R6"), warned.take(500))
    assert(warned.contains("parent transaction never resolved"))
    // absence IS the empty state: an all-empty pending frame is never
    // written (BatchCommit.writeState), so expect None or an empty set
    val pending2 = Stream.stateTable(spark, wh, Stream.PendingDir)
      .map(_.select("r.receiptId").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty[String])
    assert(pending2.isEmpty, s"still parked: $pending2")
    val receipts = Warehouse.table(spark, wh, "receipts")
      .select("receipt_id").collect().map(_.getString(0)).toSet
    assert(receipts("R3") && receipts("R5") && !receipts("R6"))
  }

  test("strict mode parks orphans forever instead of dropping") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_stream_strict").toString
    val wh = s"$root/wh"
    val chain = Fixtures.chain
    import SparkTestSession.spark.implicits._
    def norm(js: String*) = graft.near.Ingest
      .blocksFromJson(spark, js).toDF()

    // Drive 6 batches directly; orphan R6 (block 101) must survive all
    // of them in _pending under strict semantics (maxRetries=MaxValue),
    // where non-strict (4) would have dropped it.
    Stream.processBatch(spark, norm(chain(0)), wh, maxRetries = Int.MaxValue)
    Stream.processBatch(spark, norm(chain(1)), wh, maxRetries = Int.MaxValue)
    (0 until 4).foreach { i =>
      Stream.processBatch(spark, norm(chain(3)), wh,
        maxRetries = Int.MaxValue) // fork block re-delivery: idempotent-ish driver
    }
    val pending = Stream.stateTable(spark, wh, Stream.PendingDir).get
      .select("r.receiptId").collect().map(_.getString(0)).toSet
    assert(pending.contains("R6"))
    val written = Warehouse.table(spark, wh, "receipts")
      .filter(col("receipt_id") === "R6").count()
    assert(written == 0)

    // Cross-batch fork re-delivery: T6 (same hash, same converted
    // receipt) arrived once in the first chain(3) batch; the four
    // re-deliveries must be dropped, never issue84-suffixed.
    val t6 = Warehouse.table(spark, wh, "transactions")
      .filter(col("transaction_hash").startsWith("T6")).collect()
      .map(_.getAs[String]("transaction_hash"))
    assert(t6.toSeq == Seq("T6"))
  }

  test("cross-batch issue84 collision suffixes via bounded recent-hash state") {
    val root = Files.createTempDirectory("graft_stream_i84").toString
    val wh = s"$root/wh"
    val chain = Fixtures.chain
    import SparkTestSession.spark.implicits._
    def norm(js: String*) = graft.near.Ingest.blocksFromJson(spark, js).toDF()

    // Batch 1: block 100 carries T1 → R1. Batch 2: block 102a carries
    // the SAME hash T1 → R9 (a genuine collision, different converted
    // receipt) plus T5/T6. The collision must be detected against the
    // `_tx_recent` state — the warehouse transactions table is never
    // scanned on this path.
    Stream.processBatch(spark, norm(chain(0)), wh)
    Stream.processBatch(spark, norm(chain(2)), wh)
    val hashes = Warehouse.table(spark, wh, "transactions")
      .select("transaction_hash").collect().map(_.getString(0)).toSet
    assert(hashes.contains("T1"))
    assert(hashes.contains("T1_issue84_102"), s"got $hashes")
    assert(hashes.contains("T6")) // first arrival, no suffix

    // The state holds first-seen (hash, receipt) pairs, one per hash.
    val st = Stream.stateTable(spark, wh, Stream.TxRecentDir).get
    assert(st.count() == st.select("tx_hash").distinct().count())
    val t1 = st.filter(col("tx_hash") === "T1").collect()(0)
    assert(t1.getAs[String]("cid") == "R1") // first occurrence wins

    // Out-of-window hashes are pruned: with a 1-block window at height
    // 102, batch-1's T1 (height 100) is evicted while the height-102
    // entries survive. (The re-delivered T6 in chain(3) carries the
    // same converted receipt → dropped, no state churn.)
    Stream.processBatch(spark, norm(chain(3)), wh,
      collisionWindowBlocks = 1L)
    val st2 = Stream.stateTable(spark, wh, Stream.TxRecentDir).get
      .select("tx_hash").collect().map(_.getString(0)).toSet
    assert(st2 == Set("T1_issue84_102", "T5", "T6"),
      s"expected window prune of T1, got $st2")

    // Replay idempotency: re-delivering block 102a WHOLE (same block
    // hash, the −500 rewind case) is dropped by `_blocks_recent`
    // before any transform — no table grows.
    val countsBefore = Seq("transactions", "receipts", "blocks")
      .map(t => t -> Warehouse.table(spark, wh, t).count()).toMap
    Stream.processBatch(spark, norm(chain(2)), wh)
    countsBefore.foreach { case (t, n) =>
      assert(Warehouse.table(spark, wh, t).count() == n, s"$t grew on replay")
    }

    // Re-delivering the COLLISION row (T1→R9, already written as
    // T1_issue84_102) under a NEW fork block hash must be a no-op for
    // transactions: the row's identity is its converted receipt id, so
    // it is dropped, not re-suffixed into a duplicate (ON CONFLICT DO
    // NOTHING parity).
    val forkRedelivery = Fixtures.block(102, "B102c", "B101",
      "1700000002000000000", Seq(Fixtures.shard(0,
        Some(Fixtures.chunk("C102c", 0,
          Seq(Fixtures.tx("T1", "mallory.near", "bob.near",
            Fixtures.transfer, Fixtures.svOk, "R9")), Seq.empty)),
        Seq.empty, Seq.empty)))
    Stream.processBatch(spark, norm(forkRedelivery), wh)
    val t1Rows = Warehouse.table(spark, wh, "transactions")
      .filter(col("transaction_hash").startsWith("T1")).collect()
      .map(_.getAs[String]("transaction_hash")).sorted
    assert(t1Rows.toSeq == Seq("T1", "T1_issue84_102"), t1Rows.mkString(","))
  }

  test("pending receipt resolves when its parent block arrives late") {
    val root = Files.createTempDirectory("graft_stream_late").toString
    val input = s"$root/input"; val wh = s"$root/wh"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(input))
    val chain = Fixtures.chain

    // Deliver block 101 BEFORE block 100: R3's parent edge (R1's
    // outcome) and T1 itself are unknown → R3 parks.
    writeBlocks(input, Seq("b101" -> chain(1)))
    runOnce(input, wh, ckpt)
    val r1 = Warehouse.tableOpt(spark, wh, "receipts")
      .map(_.select("receipt_id").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty[String])
    assert(!r1.contains("R3"))
    assert(Stream.stateTable(spark, wh, Stream.PendingDir).get
      .select("r.receiptId").collect().map(_.getString(0)).toSet
      .contains("R3"))

    // Block 100 arrives late: the parked R3 must resolve now via the
    // batch edges + late-arriving seeds.
    writeBlocks(input, Seq("b100" -> chain(0)))
    runOnce(input, wh, ckpt)
    val receipts = Warehouse.table(spark, wh, "receipts")
      .select("receipt_id", "originated_from_transaction_hash").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(receipts("R3") == "T1")
    assert(receipts("R5") == "T1")
    assert(receipts("R1") == "T1")
  }

  test("J1/J2/J3 via JDBC mirror: point lookups, no warehouse scan") {
    val root = Files.createTempDirectory("graft_stream_mirror").toString
    val wh = s"$root/wh"
    val chain = Fixtures.chain
    import SparkTestSession.spark.implicits._
    def norm(js: String*) = graft.near.Ingest.blocksFromJson(spark, js).toDF()

    // Block 101 FIRST into a FRESH warehouse: R3 (produced by block
    // 100's R1) and R5 (data receipt for D1 declared by R1) have no
    // local parents and no warehouse to fall back on — only the mirror
    // can resolve them. J2 answers R3, J1 answers D1.
    MirrorStub.reset(j3m = Map.empty,
      j2m = Map("R3" -> "T1"), j1m = Map("D1" -> "T1"))
    Stream.processBatch(spark, norm(chain(1)), wh,
      mirror = Some(new MirrorStub.Factory))

    val receipts = Warehouse.table(spark, wh, "receipts")
      .select("receipt_id", "originated_from_transaction_hash").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(receipts.get("R3").contains("T1")) // via J2 point lookup
    assert(receipts.get("R5").contains("T1")) // via J1 + batch data edge
    assert(!receipts.contains("R6")) // orphan still parks
    // All three lookup shapes were issued as chunked IN queries.
    assert(MirrorStub.issued.exists(_.startsWith(MirrorLookup.J3Sql.take(40))))
    assert(MirrorStub.issued.exists(_.startsWith(MirrorLookup.J2Sql.take(40))))
    assert(MirrorStub.issued.exists(_.startsWith(MirrorLookup.J1Sql.take(40))))
    assert(MirrorStub.issued.forall(_.contains("IN (?")))
    // And the batch's tables were dual-written to the mirror: plain
    // ON-CONFLICT inserts plus the guarded registry upserts.
    assert(MirrorStub.inserts.exists(_.startsWith(
      "INSERT INTO blocks ")))
    assert(MirrorStub.inserts.exists(s =>
      s.startsWith("INSERT INTO receipts ") &&
        s.endsWith("ON CONFLICT DO NOTHING")))
    assert(MirrorStub.inserts.contains(JdbcSink.accountsUpsertSql))
  }

  test("random chains streamed in random batch splits match ground truth") {
    // Same generator as the batch property test, but driven through
    // processBatch with random microbatch boundaries — exercises the
    // J2/J3 warehouse fallbacks, the _lineage_ahead announced-receipt
    // state, and empty-frontier gating under arbitrary DAG shapes.
    Seq(7L, 99L).foreach { seed =>
      val g = RandomChains.chain(seed)
      assume(g.txHashes.nonEmpty)
      val rnd = new scala.util.Random(seed * 31)
      val batches = g.blocks.foldLeft(Vector(Vector.empty[String])) { (acc, b) =>
        if (acc.last.nonEmpty && rnd.nextBoolean()) acc :+ Vector(b)
        else acc.init :+ (acc.last :+ b)
      }
      assert(batches.length > 1, "want a real multi-batch split")
      val wh = Files.createTempDirectory(s"graft_rand_stream_$seed").toString
      batches.foreach { bs =>
        Stream.processBatch(spark,
          graft.near.Ingest.blocksFromJson(spark, bs).toDF(), wh,
          maxRetries = Int.MaxValue)
      }
      val got = Warehouse.table(spark, wh, "receipts").collect()
        .map(r => r.getAs[String]("receipt_id") ->
          r.getAs[String]("originated_from_transaction_hash")).toMap
      assert(got == g.lineage, s"seed=$seed streamed lineage mismatch: " +
        s"missing=${g.lineage.keySet -- got.keySet} extra=${got.keySet -- g.lineage.keySet}")
      val gotTx = Warehouse.table(spark, wh, "transactions").collect()
        .map(_.getAs[String]("transaction_hash"))
      assert(gotTx.length == gotTx.distinct.length, s"seed=$seed dup tx rows")
      assert(gotTx.toSet == g.txHashes, s"seed=$seed tx hashes: " +
        s"missing=${g.txHashes -- gotTx} extra=${gotTx.toSet -- g.txHashes}")
      assert(Warehouse.table(spark, wh, "blocks").count() == g.nBlockRows)
      assert(Warehouse.table(spark, wh, "execution_outcome_receipts")
        .count() == g.nEdges)
      // Outputs are written without emptiness probes; what came out
      // empty must still leave no committed file behind.
      val empty = zeroRowFiles(wh)
      assert(empty.isEmpty, s"seed=$seed zero-row committed files: $empty")
    }
  }

  test("mid-batch crash rolls back; replayed batch writes rows exactly once") {
    val chain = Fixtures.chain
    import SparkTestSession.spark.implicits._
    def norm(js: String*) = graft.near.Ingest.blocksFromJson(spark, js).toDF()
    // Crash at every step of the commit protocol: before the commit
    // point ("staged"/"manifest"/"moved") recovery must ROLL BACK the
    // half-applied batch; after it ("committed") roll FORWARD. Either
    // way the replayed batch must leave every table with each row
    // exactly once — no dedup-on-read involved.
    Seq("staged", "manifest", "moved", "committed").foreach { crashAt =>
      val wh = Files.createTempDirectory(s"graft_crash_$crashAt").toString + "/wh"
      Stream.processBatch(spark, norm(chain(0)), wh)
      val boom = intercept[RuntimeException] {
        Stream.processBatch(spark, norm(chain(1), chain(2), chain(3)), wh,
          commitHook = step =>
            if (step == crashAt) throw new RuntimeException(s"boom@$step"))
      }
      assert(boom.getMessage == s"boom@$crashAt")
      // The -500-rewind replay of the same batch.
      Stream.processBatch(spark, norm(chain(1), chain(2), chain(3)), wh)
      val receipts = Warehouse.table(spark, wh, "receipts")
      assert(receipts.select("receipt_id").collect().map(_.getString(0))
        .toSet == Set("R1", "R3", "R5", "R10", "R12"), s"crashAt=$crashAt")
      assert(receipts.count() == 5, s"crashAt=$crashAt: duplicate rows")
      Seq("blocks" -> "block_hash", "transactions" -> "transaction_hash",
        "execution_outcomes" -> "receipt_id").foreach { case (t, pk) =>
        val df = Warehouse.table(spark, wh, t)
        assert(df.count() == df.select(pk).distinct().count(),
          s"crashAt=$crashAt: $t has replay duplicates")
      }
    }
  }

  test("a failed write fails the batch whole; the next good batch commits") {
    // A total_supply above DECIMAL(38,0) fails only the `blocks` write
    // (its checked cast raises); the other outputs of the batch are
    // written beside it. The batch must throw only after every write
    // has stopped, commit nothing, and leave the warehouse to the next
    // batch.
    import scala.jdk.CollectionConverters._
    val chain = Fixtures.chain
    val wh = Files.createTempDirectory("graft_write_fail").toString + "/wh"
    Stream.processBatch(spark, norm(chain.take(1)), wh)
    def liveFiles: Set[String] = {
      val w = Files.walk(Paths.get(wh))
      try w.iterator().asScala.map(p => Paths.get(wh).relativize(p).toString)
        .filter(r => !r.startsWith("_") && r.endsWith(".parquet")).toSet
      finally w.close()
    }
    val version = graft.near.BatchCommit.currentVersion(spark, wh)
    val before = liveFiles
    val huge = "1" + "0" * 40
    val bad = chain(1).replace(
      "\"total_supply\":\"1178709068419829947981959148837955\"",
      s"\"total_supply\":\"$huge\"")
    assert(bad != chain(1))
    val e = intercept[Exception] {
      Stream.processBatch(spark, norm(Seq(bad, chain(2), chain(3))), wh)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(messages.contains(huge), messages.take(2000))
    // No write outlives the failed batch.
    Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == "batch-commit-write").foreach { t =>
        t.join(10000)
        assert(!t.isAlive, "a batch write is still running")
      }
    assert(graft.near.BatchCommit.currentVersion(spark, wh) == version)
    assert(liveFiles == before, "the failed batch added live table files")
    Stream.processBatch(spark, norm(chain.drop(1)), wh)
    assert(graft.near.BatchCommit.currentVersion(spark, wh) == version + 1)
    assertMatchesBatch(wh, chain)
  }

  test("a same-height fork re-delivering a chunk writes it once, as the batch path does") {
    // chunks' PK is chunk_hash: the third height-102 block carries the
    // chunk its sibling B102b already delivered in the same batch.
    val chain = Fixtures.chain
    val fork = Fixtures.block(102, "B102c", "B101", "1700000002000000000",
      Seq(Fixtures.shard(0, Some(Fixtures.chunk("C102b", 0, Seq.empty,
        Seq.empty)), Seq.empty, Seq.empty)))
    val wh = Files.createTempDirectory("graft_fork_chunk").toString + "/wh"
    Stream.processBatch(spark, norm(chain.take(2)), wh)
    Stream.processBatch(spark, norm(chain.drop(2) :+ fork), wh)
    val chunks = Warehouse.table(spark, wh, "chunks")
    assert(chunks.count() == chunks.select("chunk_hash").distinct().count())
    assertMatchesBatch(wh, chain :+ fork)
  }

  test("random chains with random mid-commit crashes converge exactly-once") {
    // The property-test sibling of the fixed-point crash test: every
    // batch of a random chain may die at a random step of the commit
    // protocol and is then replayed; the final warehouse must equal the
    // ground truth exactly — same rows, no duplicates — with no
    // dedup-on-read anywhere.
    val seed = 31L
    val g = RandomChains.chain(seed)
    assume(g.txHashes.nonEmpty)
    val rnd = new scala.util.Random(seed * 13)
    val batches = g.blocks.foldLeft(Vector(Vector.empty[String])) { (acc, b) =>
      if (acc.last.nonEmpty && rnd.nextBoolean()) acc :+ Vector(b)
      else acc.init :+ (acc.last :+ b)
    }
    assert(batches.length > 1, "want a real multi-batch split")
    val wh = Files.createTempDirectory("graft_crash_prop").toString + "/wh"
    val steps = Vector("staged", "manifest", "moved", "committed")
    batches.foreach { bs =>
      val mk = () => graft.near.Ingest.blocksFromJson(spark, bs).toDF()
      if (rnd.nextBoolean()) {
        val step = steps(rnd.nextInt(steps.length))
        intercept[RuntimeException] {
          Stream.processBatch(spark, mk(), wh, maxRetries = Int.MaxValue,
            commitHook = s =>
              if (s == step) throw new RuntimeException(s"boom@$s"))
        }
      }
      Stream.processBatch(spark, mk(), wh, maxRetries = Int.MaxValue)
    }
    val got = Warehouse.table(spark, wh, "receipts").collect()
      .map(r => r.getAs[String]("receipt_id") ->
        r.getAs[String]("originated_from_transaction_hash"))
    assert(got.length == got.toMap.size, "duplicate receipt rows after crashes")
    assert(got.toMap == g.lineage, s"crash-replay lineage mismatch: " +
      s"missing=${g.lineage.keySet -- got.toMap.keySet} " +
      s"extra=${got.toMap.keySet -- g.lineage.keySet}")
    val gotTx = Warehouse.table(spark, wh, "transactions").collect()
      .map(_.getAs[String]("transaction_hash"))
    assert(gotTx.length == gotTx.distinct.length, "dup tx rows")
    assert(gotTx.toSet == g.txHashes)
    assert(Warehouse.table(spark, wh, "blocks").count() == g.nBlockRows)
    assert(Warehouse.table(spark, wh, "execution_outcome_receipts")
      .count() == g.nEdges)
  }

  test("parent older than the pruned lookback resolves via automatic rescan") {
    val wh = Files.createTempDirectory("graft_old_parent").toString + "/wh"
    import SparkTestSession.spark.implicits._
    def norm(js: String*) = graft.near.Ingest.blocksFromJson(spark, js).toDF()
    // Day 0: T1 → R1 arrives; R1's outcome announces R3.
    Stream.processBatch(spark, norm(Fixtures.chain(0)), wh)
    // Drop the announced-mapping cache (the reference's LRU-eviction /
    // restart analogue) so R3's lineage must come from the warehouse
    // J2 lookup when it finally arrives.
    val v = graft.near.BatchCommit.currentVersion(spark, wh)
    val aheadPath = new org.apache.hadoop.fs.Path(
      graft.near.BatchCommit.statePath(wh, v, Stream.LineageAheadDir))
    aheadPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(aheadPath, true)
    // Day 5: R3 arrives — its parent receipt row sits 5 days back,
    // OUTSIDE the default 2-day pruned recovery window. First-time
    // unresolved rows only PARK (the retries>=1 gate keeps ordinary
    // out-of-order arrivals off the full-history scan)…
    val rescansBefore = graft.near.Metrics.lineageFullRescans.get
    val lateTs = (1700000000000000000L + 5L * 86400L * 1000000000L).toString
    val lateBlock = Fixtures.block(105, "B105", "B100", lateTs,
      Seq(Fixtures.shard(0, Some(Fixtures.chunk("C105", 0, Seq.empty,
        Seq(Fixtures.actionReceipt("R3", "bob.near", "carol.near",
          "alice.near", Fixtures.transfer)))), Seq.empty, Seq.empty)))
    Stream.processBatch(spark, norm(lateBlock), wh)
    assert(!Warehouse.table(spark, wh, "receipts").collect()
      .map(_.getString(0)).contains("R3"), "R3 should park one batch first")
    assert(graft.near.Metrics.lineageFullRescans.get == rescansBefore,
      "first-time unresolved must not trigger the full rescan")
    // …then the NEXT batch detects the carried residue and rescans
    // unpruned automatically (no fullRecoveryScan flag), resolving R3.
    val lateTs2 = (1700000000000000000L + 5L * 86400L * 1000000000L +
      7200000000000L).toString
    val nextBlock = Fixtures.block(106, "B106", "B105", lateTs2,
      Seq(Fixtures.shard(0, Some(Fixtures.chunk("C106", 0, Seq.empty,
        Seq.empty)), Seq.empty, Seq.empty)))
    Stream.processBatch(spark, norm(nextBlock), wh)
    val receipts = Warehouse.table(spark, wh, "receipts")
      .select("receipt_id", "originated_from_transaction_hash").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(receipts.get("R3").contains("T1"))
    assert(graft.near.Metrics.lineageFullRescans.get > rescansBefore,
      "expected the metered unpruned-rescan path to have engaged")
  }

  test("pruned-lookback recovery property: random day gaps × lookback ∈ {0,1,2}") {
    // The hand fixture above pins the gating; this pins the INVARIANT:
    // whatever the lookback and however many days separate a receipt
    // from its parent, the park → carried-residue → automatic unpruned
    // rescan path must converge to exact ground-truth lineage. Random
    // chains with 0–3-day gaps between consecutive blocks, random
    // batch splits, and a randomized recoveryLookbackDays ∈ {0,1,2}
    // that the day gaps routinely exceed.
    import SparkTestSession.spark.implicits._
    def norm(js: Seq[String]) =
      graft.near.Ingest.blocksFromJson(spark, js).toDF()
    var rescanRuns = 0
    Seq(11L, 23L, 57L).foreach { seed =>
      val g = RandomChains.chain(seed, maxDayGap = 3)
      assume(g.txHashes.nonEmpty)
      val rnd = new scala.util.Random(seed * 17)
      val lookback = rnd.nextInt(3)
      val batches = g.blocks.foldLeft(Vector(Vector.empty[String])) {
        (acc, b) =>
          if (acc.last.nonEmpty && rnd.nextBoolean()) acc :+ Vector(b)
          else acc.init :+ (acc.last :+ b)
      }
      val wh = Files.createTempDirectory(
        s"graft_lookback_prop_$seed").toString + "/wh"
      val before = graft.near.Metrics.lineageFullRescans.get
      batches.foreach { bs =>
        Stream.processBatch(spark, norm(bs), wh,
          maxRetries = Int.MaxValue, recoveryLookbackDays = lookback)
        // Randomly evict the announced-receipt mapping (the
        // reference's LRU-eviction / process-restart analogue) — with
        // the ahead-state intact every receipt resolves from it and
        // the warehouse lookback path is never exercised.
        if (rnd.nextBoolean()) {
          val v = graft.near.BatchCommit.currentVersion(spark, wh)
          val aheadPath = new org.apache.hadoop.fs.Path(
            graft.near.BatchCommit.statePath(wh, v, Stream.LineageAheadDir))
          aheadPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(aheadPath, true)
        }
      }
      // Two trailing receipt-less ticks: residue parked by the FINAL
      // data batch still needs a subsequent batch to trigger its
      // rescan (retries >= 1 gate), exactly like a live stream.
      val F = Fixtures
      (0 until 2).foreach { k =>
        val ts = (g.lastTsNanos + (k + 1) * 3600L * 1000000000L).toString
        val b = F.block(9000 + k, s"B900$k", s"B900${k - 1}", ts,
          Seq(F.shard(0, Some(F.chunk(s"C900$k", 0, Seq.empty, Seq.empty)),
            Seq.empty, Seq.empty)))
        Stream.processBatch(spark, norm(Seq(b)), wh,
          maxRetries = Int.MaxValue, recoveryLookbackDays = lookback)
      }
      val got = Warehouse.table(spark, wh, "receipts").collect()
        .map(r => r.getAs[String]("receipt_id") ->
          r.getAs[String]("originated_from_transaction_hash")).toMap
      assert(got == g.lineage, s"seed=$seed lookback=$lookback lineage: " +
        s"missing=${g.lineage.keySet -- got.keySet} " +
        s"extra=${got.keySet -- g.lineage.keySet}")
      val gotTx = Warehouse.table(spark, wh, "transactions").collect()
        .map(_.getAs[String]("transaction_hash"))
      assert(gotTx.length == gotTx.distinct.length,
        s"seed=$seed dup tx rows")
      assert(gotTx.toSet == g.txHashes, s"seed=$seed tx set")
      assert(Warehouse.table(spark, wh, "blocks").count() ==
        g.nBlockRows + 2L, s"seed=$seed block rows")
      if (graft.near.Metrics.lineageFullRescans.get > before) rescanRuns += 1
    }
    // The property is only meaningful if the fuzz actually drove the
    // unpruned-rescan path somewhere — all-tame chains would pass
    // vacuously.
    assert(rescanRuns > 0,
      "no run engaged the unpruned rescan; fixture too tame")
  }

  test("block_date partitioning is the UTC day regardless of session timezone") {
    import spark.implicits._
    // 2023-11-14T23:30Z in nanos: still Nov 14 UTC, but Nov 15 in
    // Asia/Tokyo — to_date(timestamp_seconds(...)) would shift it.
    val nanos = BigDecimal("1700004600000000000")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val d = Seq(nanos).toDF("ts")
        .select(Stream.dayCol("ts").cast("string").as("d"))
        .collect()(0).getString(0)
      assert(d == "2023-11-14")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
