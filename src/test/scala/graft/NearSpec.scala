package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.near.{BlockParser, Fixtures, Ingest}
import graft.queries.{NearOracles, NearQueries}

/** Golden tests for the NEAR ETL DAG over the fixture chain
  * (FIXTURES.md §A): every quirk gets a concrete expected value.
  */
class NearSpec extends AnyFunSuite {
  import SparkTestSession._

  lazy val tables: Map[String, DataFrame] =
    Ingest.allTables(Ingest.blocksFromJson(spark, Fixtures.chain).toDF())
      .map { case (k, v) => k -> v.cache() }

  // The near_* entries read the embedded fixture chains; their data
  // directory argument is unused.
  private def query(name: String): DataFrame =
    NearQueries.queries(name)(spark, "")

  test("registry completeness: queries and oracleSql keysets match") {
    // A declared entry silently absent from the correctness dump must be
    // impossible: every query needs an oracle (the DuckDB compare) and
    // every oracle needs a query (a dangling oracle is dead SQL).
    val q = NearQueries.queries.keySet
    val o = NearOracles.sql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("every query with an oracle has matching column names (sorted)") {
    // The oracle compare sorts columns by name before comparing; catch
    // drift early by asserting the oracle SQL mentions each Spark
    // output column.
    NearOracles.sql.foreach { case (name, sql) =>
      val cols = query(name).columns
      cols.foreach { c =>
        assert(sql.toLowerCase.contains(c.toLowerCase),
          s"$name: column $c not present in oracle SQL")
      }
    }
  }

  test("blocks: fork keeps both same-height blocks") {
    val rows = tables("blocks").collect()
    assert(rows.length == 4)
    val at102 = rows.filter(_.getAs[java.math.BigDecimal]("block_height").intValue == 102)
    assert(at102.map(_.getAs[String]("block_hash")).toSet == Set("B102a", "B102b"))
  }

  test("transactions: issue84 suffix on duplicate hash") {
    val all = tables("transactions").collect().map(_.getAs[String]("transaction_hash"))
    val hashes = all.toSet
    assert(hashes.contains("T1"))
    assert(hashes.contains("T1_issue84_102"))
    assert(hashes.contains("T2") && hashes.contains("T3"))
    // fork duplicate (same hash, same converted receipt in both
    // same-height fork blocks): exactly one row, NO suffix
    assert(all.count(_ == "T6") == 1)
    assert(!hashes.exists(_.startsWith("T6_issue84")))
  }

  test("transaction_actions: delegate expands to parent + children with running index") {
    val t3 = tables("transaction_actions").filter(col("transaction_hash") === "T3")
      .orderBy(col("index_in_transaction")).collect()
    assert(t3.length == 3)
    assert(t3(0).getAs[String]("action_kind") == "DELEGATE_ACTION")
    assert(t3(0).getAs[String]("args") == "{}")
    assert(t3(0).getAs[Any]("delegate_parent_index_in_transaction") == null)
    assert(t3(1).getAs[String]("action_kind") == "TRANSFER")
    assert(t3(1).getAs[Int]("delegate_parent_index_in_transaction") == 0)
    assert(t3(2).getAs[String]("action_kind") == "FUNCTION_CALL")
    assert(t3(2).getAs[Int]("delegate_parent_index_in_transaction") == 0)
    t3.foreach(r => assert(r.getAs[Boolean]("is_delegate_action")))
    val params = t3(0).getAs[String]("delegate_parameters")
    assert(params.contains("\"sender_id\":\"alice.near\"") &&
      params.contains("\"max_block_height\":200"))
    assert(t3(1).getAs[String]("delegate_parameters") == params)
  }

  test("action_receipt_actions: receipt-side delegate expansion (P10)") {
    val r12 = tables("action_receipt_actions")
      .filter(col("receipt_id") === "R12")
      .orderBy(col("index_in_action_receipt")).collect()
    assert(r12.length == 3) // parent + 2 inner actions
    assert(r12(0).getAs[String]("action_kind") == "DELEGATE_ACTION")
    assert(r12(0).getAs[Any]("delegate_parent_index_in_action_receipt") == null)
    assert(r12(1).getAs[String]("action_kind") == "TRANSFER")
    assert(r12(1).getAs[Int]("delegate_parent_index_in_action_receipt") == 0)
    assert(r12(2).getAs[String]("action_kind") == "FUNCTION_CALL")
    r12.foreach { r =>
      assert(r.getAs[Boolean]("is_delegate_action"))
      // denormalized receipt context on every expanded row
      assert(r.getAs[String]("receipt_predecessor_account_id") == "relayer.near")
      assert(r.getAs[String]("receipt_receiver_account_id") == "bob.near")
    }
  }

  test("action serialization quirks: code_sha256 hex-of-base64, args_json embedding") {
    val t2 = tables("transaction_actions").filter(col("transaction_hash") === "T2")
      .orderBy(col("index_in_transaction")).collect()
    assert(t2.length == 8)
    assert(t2.map(_.getAs[String]("action_kind")).toSeq == Seq(
      "CREATE_ACCOUNT", "DEPLOY_CONTRACT", "FUNCTION_CALL", "FUNCTION_CALL",
      "STAKE", "ADD_KEY", "ADD_KEY", "DELETE_KEY"))
    // hex of the base64 STRING "Y29kZQ==" bytes (serializers.rs:70-73)
    val expectedHex = "Y29kZQ==".getBytes("UTF-8").map("%02x".format(_)).mkString
    assert(t2(1).getAs[String]("args") == s"""{"code_sha256":"$expectedHex"}""")
    // valid JSON args → args_json embedded, sorted keys
    val fcArgs = t2(2).getAs[String]("args")
    assert(fcArgs.contains("\"args_json\":{\"amount\":\"12\",\"receiver_id\":\"app.near\"}"))
    assert(fcArgs.contains("\"method_name\":\"do_it\""))
    // non-JSON args → no args_json key
    assert(!t2(3).getAs[String]("args").contains("args_json"))
    // AddKey function-call permission serialization
    val ak = t2(6).getAs[String]("args")
    assert(ak.contains("\"permission_kind\":\"FUNCTION_CALL\"") &&
      ak.contains("\"allowance\":\"250000000000\"") &&
      ak.contains("\"method_names\":[\"mint\",\"burn\"]"))
  }

  test("receipts lineage: local, cross-block, data-id, orphan-skip") {
    val r = tables("receipts").collect()
      .map(x => x.getAs[String]("receipt_id") ->
        x.getAs[String]("originated_from_transaction_hash")).toMap
    assert(r("R1") == "T1") // local same-block conversion
    assert(r("R3") == "T1") // cross-block via R1's outcome
    assert(r("R5") == "T1") // data receipt via D1 output edge
    assert(r("R10") == "T5") // local conversion in block 102
    assert(r("R12") == "T7") // local conversion in block 101
    assert(!r.contains("R6")) // orphan skipped (non-strict)
    assert(r.size == 5)
  }

  test("accounts registry: create, cross-block delete, implicit, delete-only") {
    val a = tables("accounts").collect()
      .map(x => x.getAs[String]("account_id") -> x).toMap
    // carol: created by R2 (block 101), deleted by R7 (block 102)
    assert(a("carol.near").getAs[String]("created_by_receipt_id") == "R2")
    assert(a("carol.near").getAs[String]("deleted_by_receipt_id") == "R7")
    assert(a("carol.near").getAs[java.math.BigDecimal]("last_update_block_height").intValue == 102)
    // implicit account via 64-char transfer
    assert(a(Fixtures.ImplicitId).getAs[String]("created_by_receipt_id") == "R8")
    assert(a(Fixtures.ImplicitId).getAs[Any]("deleted_by_receipt_id") == null)
  }

  test("access_keys registry: update + delete-only placeholder") {
    val k = tables("access_keys").collect()
      .map(x => (x.getAs[String]("account_id"), x.getAs[String]("public_key")) -> x).toMap
    val alice = k(("alice.near", "ed25519:AK1"))
    assert(alice.getAs[String]("created_by_receipt_id") == "R1")
    assert(alice.getAs[String]("permission_kind") == "FULL_ACCESS")
    assert(alice.getAs[Any]("deleted_by_receipt_id") == null)
    val eve = k(("eve.near", "ed25519:AK9"))
    assert(eve.getAs[Any]("created_by_receipt_id") == null)
    assert(eve.getAs[String]("deleted_by_receipt_id") == "R2")
    assert(eve.getAs[String]("permission_kind") == "FULL_ACCESS") // placeholder
  }

  test("account_changes: causes and deletion zero-balances") {
    val ac = tables("account_changes").collect()
    val dave = ac.find(_.getAs[String]("affected_account_id") == "dave.near").get
    assert(dave.getAs[String]("update_reason") == "RECEIPT_PROCESSING")
    assert(dave.getAs[java.math.BigDecimal]("affected_account_nonstaked_balance").intValue == 0)
    val alice = ac.find(r => r.getAs[String]("affected_account_id") == "alice.near").get
    assert(alice.getAs[String]("caused_by_transaction_hash") == "T1")
    assert(alice.getAs[Any]("caused_by_receipt_id") == null)
    val carol = ac.find(_.getAs[String]("affected_account_id") == "carol.near").get
    assert(carol.getAs[String]("update_reason") == "ACTION_RECEIPT_GAS_REWARD")
    assert(carol.getAs[String]("caused_by_receipt_id") == "R2")
  }

  test("account_changes: partial-unique-index dedup of duplicated changes") {
    import graft.near.{Fixtures => F}
    // One block whose shard carries the SAME account_update twice (same
    // cause, reason and balance snapshot — only index_in_block differs)
    // plus a third with a different amount: the duplicate collapses per
    // up.sql:7-43, the different snapshot survives.
    val dup = F.block(200, "B200", "B199", "1700000100000000000", Seq(
      F.shard(0, None, Seq(), Seq(
        F.scAccountUpdate("dup.near", F.causeReceipt("RX"), amount = "77"),
        F.scAccountUpdate("dup.near", F.causeReceipt("RX"), amount = "77"),
        F.scAccountUpdate("dup.near", F.causeReceipt("RX"), amount = "88")))))
    val ac = graft.near.Transforms.accountChanges(
        graft.near.Ingest.blocksFromJson(spark, Seq(dup)).toDF())
      .orderBy(col("index_in_block")).collect()
    assert(ac.length == 2, s"expected dedup to 2 rows, got ${ac.length}")
    assert(ac(0).getAs[Int]("index_in_block") == 0) // first insert wins
    assert(ac(0).getAs[java.math.BigDecimal](
      "affected_account_nonstaked_balance").intValue == 77)
    assert(ac(1).getAs[java.math.BigDecimal](
      "affected_account_nonstaked_balance").intValue == 88)
  }

  test("ft events: rows, kinds, escape_default on null byte, dense ordinals") {
    val ft = tables("assets__fungible_token_events")
      .orderBy(col("emitted_at_block_timestamp"),
        col("emitted_index_of_event_entry_in_shard")).collect()
    // 2 mint entries (R2's log) + 1 transfer (R8's log); malformed dropped
    assert(ft.length == 3)
    assert(ft.map(_.getAs[Int]("emitted_index_of_event_entry_in_shard")).toSeq == Seq(0, 1, 2))
    assert(ft(0).getAs[String]("event_kind") == "MINT")
    assert(ft(0).getAs[String]("token_new_owner_account_id") == "bob.near")
    assert(ft(0).getAs[String]("token_old_owner_account_id") == "")
    // null byte escaped Rust-style
    assert(ft(1).getAs[String]("event_memo") == "me\\u{0}mo")
    assert(ft(2).getAs[String]("event_kind") == "TRANSFER")
    assert(ft(2).getAs[String]("token_old_owner_account_id") == "bob.near")
  }

  test("nft events: per-token rows with authorized id") {
    val nft = tables("assets__non_fungible_token_events")
      .orderBy(col("emitted_index_of_event_entry_in_shard")).collect()
    assert(nft.length == 2) // one transfer entry × 2 token_ids
    assert(nft.map(_.getAs[String]("token_id")).toSeq == Seq("tk1", "tk2"))
    assert(nft.map(_.getAs[Int]("emitted_index_of_event_entry_in_shard")).toSeq == Seq(0, 1))
    nft.foreach { r =>
      assert(r.getAs[String]("token_authorized_account_id") == "app.near")
      assert(r.getAs[String]("event_kind") == "TRANSFER")
    }
  }

  test("execution outcomes + produced receipt edges") {
    val eo = tables("execution_outcomes").collect()
    assert(eo.map(_.getAs[String]("receipt_id")).toSet ==
      Set("R1", "R2", "R7", "R8", "R10"))
    val eor = tables("execution_outcome_receipts").collect()
    assert(eor.map(r => (r.getAs[String]("executed_receipt_id"),
      r.getAs[String]("produced_receipt_id"))).toSet ==
      Set(("R1", "R3"), ("R2", "R7")))
  }

  test("escape_default matches Rust semantics") {
    assert(BlockParser.escapeDefault("a\nb") == "a\\nb")
    assert(BlockParser.escapeDefault("a\u0000b") == "a\\u{0}b")
    assert(BlockParser.escapeDefault("quote\"s") == "quote\\\"s")
    assert(BlockParser.escapeDefault("café") == "caf\\u{e9}")
    assert(BlockParser.escapeDefault("emoji😀x") == "emoji\\u{1f600}x")
    assert(BlockParser.escapeDefault("plain ascii_123") == "plain ascii_123")
  }

  test("all near gate queries return rows") {
    NearQueries.queries.keys.foreach { name =>
      assert(query(name).count() > 0, s"$name returned no rows")
    }
  }

  test("allTables localCheckpoint contract: lost blocks fail LOUDLY") {
    // Stream.dag documents that the localCheckpoint bases do not
    // survive executor loss — acceptable for a per-microbatch /
    // bench lifetime ONLY because a lost block surfaces as a hard
    // error instead of a silent recompute that could resolve lineage
    // against a half-rebuilt base. Simulate the loss (unpersisting a
    // local checkpoint destroys its only copy, exactly like losing
    // the executor that held it) and require the read to THROW, with
    // the checkpoint-block message, not return rows. The bases are
    // checkpointed lazily, by the first job that reads them, so the
    // read goes to transaction_actions: its base (txBase) is the one
    // the transactions count above checkpointed.
    val sc = spark.sparkContext
    val norm = Ingest.blocksFromJson(spark, Fixtures.chain).toDF().persist()
    norm.count()
    val before = sc.getPersistentRDDs.keySet
    val tables = Ingest.allTables(norm)
    assert(tables("transactions").count() > 0) // healthy before the loss
    sc.getPersistentRDDs.keySet.filterNot(before).foreach { id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(true))
    }
    val err = intercept[Throwable] {
      tables("transaction_actions").count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    val msgs = chain(err).flatMap(t => Option(t.getMessage))
    assert(msgs.exists(m => m.contains("Checkpoint block") ||
        m.contains("rdd_")),
      s"expected a loud checkpoint-block failure, got: ${msgs.take(3)}")
    norm.unpersist(true)
  }

  test("lineage resolveGraph: gated driver BFS equals the distributed fixpoint") {
    // The size gate routes small per-batch graphs to a driver BFS; the
    // two solvers must agree node-for-node, including the maxIter
    // level cap (a node deeper than maxIter stays unresolved on BOTH
    // paths). Random DAGs + a deep chain pin both properties.
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    def run(seeds: Seq[(String, String)], edges: Seq[(String, String)],
        maxIter: Int): (Map[String, String], Map[String, String]) = {
      val sdf = seeds.toDF("child", "tx")
      val edf = edges.toDF("child", "parent")
      val local = graft.near.Lineage.resolveGraph(sdf, edf, maxIter)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val dist = graft.near.Lineage
        .resolveGraph(sdf, edf, maxIter, localEdgeLimit = 0L)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      (local, dist)
    }
    // random forests: every node's parent has a smaller index, so each
    // child resolves to exactly one tx (the model's uniqueness)
    (1 to 3).foreach { c =>
      val n = 60
      val roots = (0 until 6).map(i => (s"r$i", s"tx$i"))
      val edges = (6 until n).map { i =>
        val p = rnd.nextInt(i)
        val pid = if (p < 6) s"r$p" else s"n$p"
        (s"n$i", pid)
      }
      val (local, dist) = run(roots, edges, maxIter = 50)
      assert(local == dist, s"case $c: ${local.size} vs ${dist.size}")
      assert(local.size == n, s"case $c resolved ${local.size} of $n")
    }
    // a 30-deep chain under maxIter = 10: both paths must stop at the
    // same horizon (10 levels below the seed)
    val chain = (1 to 30).map(i =>
      (s"c$i", if (i == 1) "c0" else s"c${i - 1}"))
    val (local, dist) = run(Seq(("c0", "tx")), chain, maxIter = 10)
    assert(local == dist)
    assert(local.size == 11, s"horizon: ${local.size} resolved")
  }
}
