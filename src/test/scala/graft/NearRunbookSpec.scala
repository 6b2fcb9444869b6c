package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.near.{Ingest, Runbook, ScaleChain, Stream, Warehouse}

/** End-to-end drive of the packaged TROBLESHOOTING verbs: a "stuck"
  * indexer is skipped past a borked range and the range is re-indexed
  * later — the exact incident flow the reference's handbook prescribes
  * ("skip … then we MUST go back and re-index the borked blocks").
  */
class NearRunbookSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeChainFiles(input: String): Seq[String] = {
    Files.createDirectories(Paths.get(input))
    val chain = ScaleChain.chain()
    chain.zipWithIndex.foreach { case (json, i) =>
      Files.write(Paths.get(input, f"b$i%04d.json"), json.getBytes("UTF-8"))
    }
    chain
  }

  /** Multiset of rows, with the one ORDER-DEFINED piece normalized:
    * which physical row of an issue84 hash collision gets the
    * `_issue84_<height>` suffix is first-seen-wins (identical to the
    * reference's conflict-time behavior), so a skip-then-re-index run
    * suffixes the EARLIER block's row where the in-order run suffixes
    * the later one. Stripping the suffix compares the invariant part;
    * a genuine duplicate or loss still changes the multiset.
    */
  private def rowSet(df: DataFrame): Seq[String] = {
    val hashCols = Set("transaction_hash", "originated_from_transaction_hash")
    val strip = df.columns.foldLeft(df) { (d, c) =>
      if (hashCols(c))
        d.withColumn(c, regexp_replace(col(c), "_issue84_\\d+", ""))
      else d
    }
    strip.drop("block_date").collect()
      .map(_.toSeq.map {
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq
  }

  test("runbook: stuck → skip-block → re-index-range converges to the healthy run") {
    val root = Files.createTempDirectory("graft_runbook").toString
    val input = s"$root/input"; val wh = s"$root/wh"; val ckpt = s"$root/ckpt"
    val chain = writeChainFiles(input)
    val (a, b) = (5120L, 5139L) // the borked range, mid-chain

    // 1. Healthy ingest until the indexer "sticks" at height A: the
    // bounded pass (sync-from-block + stop-after) covers [5000, A).
    Runbook.cli(spark, Array("sync-from-block", "--input", input,
      "--warehouse", wh, "--checkpoint", ckpt, "--height", "5000",
      "--stop-after-number-of-blocks", (a - 5000L).toString))
    // 2. Skip the borked range: restart syncing from B+1 (streaming,
    // checkpointed — the handbook's brute-forced restart height).
    Runbook.cli(spark, Array("sync-from-block", "--input", input,
      "--warehouse", wh, "--checkpoint", ckpt, "--height", (b + 1).toString))
    val afterSkip = Warehouse.table(spark, wh, "blocks")
      .selectExpr("CAST(block_height AS BIGINT) AS h")
      .collect().map(_.getLong(0)).toSet
    assert(!afterSkip.exists(h => h >= a && h <= b), "skip left borked blocks")
    assert(afterSkip.contains(b + 1) && afterSkip.contains(a - 1))

    // 3. The mandated repair: re-index the borked heights in place.
    Runbook.cli(spark, Array("re-index-range", "--input", input,
      "--warehouse", wh, "--from", a.toString, "--to", b.toString))

    // Reference: the healthy, never-stuck streamed ingest of the same
    // chain (the volume gate's shape).
    val whRef = s"$root/wh_ref"
    chain.grouped(64).foreach { batch =>
      Stream.processBatch(spark,
        Ingest.blocksFromJson(spark, batch).toDF(), whRef)
    }
    val tables = graft.queries.NearQueries.StreamedPlainTables
    tables.foreach { t =>
      val got = rowSet(Warehouse.table(spark, wh, t))
      val want = rowSet(Warehouse.table(spark, whRef, t))
      assert(got.size == want.size, s"$t: ${got.size} vs ${want.size} rows")
      assert(got == want, s"table $t diverged after re-index")
    }
    // Registries converge through their delta compactions.
    def reg(dir: String, name: String,
        compact: DataFrame => DataFrame): Seq[String] =
      rowSet(compact(Warehouse.table(spark, dir, name)))
    assert(reg(wh, "accounts", Warehouse.accountsCurrent)
      == reg(whRef, "accounts", Warehouse.accountsCurrent))
    assert(reg(wh, "access_keys", Warehouse.accessKeysCurrent)
      == reg(whRef, "access_keys", Warehouse.accessKeysCurrent))
  }

  test("runbook: sync-from-latest abandons the backlog; re-index-range backfills it") {
    val root = Files.createTempDirectory("graft_runbook_tip").toString
    val input = s"$root/input"; val wh = s"$root/wh"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(input))
    graft.near.Fixtures.chain.zipWithIndex.foreach { case (json, i) =>
      Files.write(Paths.get(input, f"b$i%02d.json"), json.getBytes("UTF-8"))
    }
    // Everything present is at-or-below the tip → nothing ingested.
    Runbook.cli(spark, Array("sync-from-latest", "--input", input,
      "--warehouse", wh, "--checkpoint", ckpt))
    assert(Warehouse.tableOpt(spark, wh, "blocks").isEmpty,
      "sync-from-latest ingested backlog blocks")
    // The other node's job (per the handbook): backfill the abandoned
    // range explicitly.
    Runbook.cli(spark, Array("re-index-range", "--input", input,
      "--warehouse", wh, "--from", "0", "--to", "1000000"))
    val n = Warehouse.table(spark, wh, "blocks").count()
    assert(n == 4L, s"backfill wrote $n blocks")
  }

  test("runbook: non-strict mode skips account_changes AND access_keys") {
    // TROBLESHOOTING.md:104 — "will skip account_state_changes,
    // access_keys". The relaxed pass trades those tables for
    // liveness; the handbook's own follow-up is a regular-mode run +
    // investigation (full re-consistency comes from re-indexing on a
    // warehouse that did not run non-strict — the skip-block flow the
    // convergence spec drives).
    val root = Files.createTempDirectory("graft_runbook_ns").toString
    val input = s"$root/input"; val wh = s"$root/wh"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(input))
    graft.near.Fixtures.chain.zipWithIndex.foreach { case (json, i) =>
      Files.write(Paths.get(input, f"b$i%02d.json"), json.getBytes("UTF-8"))
    }
    Runbook.cli(spark, Array("sync-from-block", "--input", input,
      "--warehouse", wh, "--checkpoint", ckpt, "--height", "0",
      "--stop-after-number-of-blocks", "1000000", "--non-strict-mode"))
    assert(Warehouse.tableOpt(spark, wh, "blocks").nonEmpty)
    assert(Warehouse.tableOpt(spark, wh, "transactions").nonEmpty)
    assert(Warehouse.tableOpt(spark, wh, "account_changes").isEmpty,
      "non-strict wrote account_changes")
    assert(Warehouse.tableOpt(spark, wh, "access_keys").isEmpty,
      "non-strict wrote access_keys")
  }

  test("runbook: re-index of already-ingested heights is idempotent beyond the replay window") {
    // The r14 advisor's hole: `_blocks_recent` is windowed, so a
    // repair re-run over heights the stream has long passed used to
    // re-ingest them whole. Drive it: ingest with a TINY collision
    // window (10 blocks) so the early heights are far outside it, then
    // re-index an early, already-ingested range — twice.
    val root = Files.createTempDirectory("graft_runbook_idem").toString
    val input = s"$root/input"; val wh = s"$root/wh"
    val chain = writeChainFiles(input)
    chain.grouped(64).foreach { batch =>
      Stream.processBatch(spark, Ingest.blocksFromJson(spark, batch).toDF(),
        wh, collisionWindowBlocks = 10L)
    }
    def snapshot(): Map[String, Seq[String]] =
      (graft.queries.NearQueries.StreamedPlainTables ++
        Seq("account_changes", "access_keys")).map { t =>
        t -> rowSet(Warehouse.table(spark, wh, t))
      }.toMap
    val before = snapshot()
    (1 to 2).foreach { _ =>
      Runbook.cli(spark, Array("re-index-range", "--input", input,
        "--warehouse", wh, "--from", "5010", "--to", "5049"))
      val after = snapshot()
      before.keys.foreach { t =>
        assert(after(t) == before(t),
          s"table $t changed on re-index of ingested heights " +
            s"(${before(t).size} -> ${after(t).size} rows)")
      }
    }
  }

  test("runbook: strict re-index backfills the tables a non-strict pass skipped") {
    val root = Files.createTempDirectory("graft_runbook_bf").toString
    val input = s"$root/input"; val wh = s"$root/wh"; val ckpt = s"$root/ckpt"
    val chain = writeChainFiles(input)
    // Non-strict ingest of the whole chain: blocks/transactions land,
    // account_changes + access_keys do not.
    Runbook.cli(spark, Array("sync-from-block", "--input", input,
      "--warehouse", wh, "--checkpoint", ckpt, "--height", "0",
      "--stop-after-number-of-blocks", "1000000", "--non-strict-mode"))
    assert(Warehouse.tableOpt(spark, wh, "account_changes").isEmpty)
    assert(Warehouse.tableOpt(spark, wh, "access_keys").isEmpty)
    // account_changes/access_keys don't exist yet — snapshot the rest.
    val plainTables = graft.queries.NearQueries.StreamedPlainTables
      .filterNot(_ == "account_changes")
    val plainBefore = plainTables
      .map(t => t -> rowSet(Warehouse.table(spark, wh, t))).toMap
    // The mandated strict repair over the same heights.
    Runbook.cli(spark, Array("re-index-range", "--input", input,
      "--warehouse", wh, "--from", "0", "--to", "1000000"))
    val acAfter1 = rowSet(Warehouse.table(spark, wh, "account_changes"))
    val akAfter1 = rowSet(Warehouse.table(spark, wh, "access_keys"))
    // Second repair run must be an exact no-op (raw tables, not just
    // the compacted views — the `_reindex_backfilled` marker gate).
    Runbook.cli(spark, Array("re-index-range", "--input", input,
      "--warehouse", wh, "--from", "0", "--to", "1000000"))
    assert(rowSet(Warehouse.table(spark, wh, "account_changes")) == acAfter1,
      "second repair changed account_changes")
    assert(rowSet(Warehouse.table(spark, wh, "access_keys")) == akAfter1,
      "second repair changed access_keys")
    // Healthy single-pass reference.
    val whRef = s"$root/wh_ref"
    chain.grouped(64).foreach { batch =>
      Stream.processBatch(spark, Ingest.blocksFromJson(spark, batch).toDF(),
        whRef)
    }
    assert(rowSet(Warehouse.table(spark, wh, "account_changes"))
      == rowSet(Warehouse.table(spark, whRef, "account_changes")),
      "backfilled account_changes diverged from the healthy run")
    assert(rowSet(Warehouse.accessKeysCurrent(
        Warehouse.table(spark, wh, "access_keys")))
      == rowSet(Warehouse.accessKeysCurrent(
        Warehouse.table(spark, whRef, "access_keys"))),
      "backfilled access-keys view diverged from the healthy run")
    // The already-present per-block tables must be untouched.
    plainBefore.foreach { case (t, want) =>
      assert(rowSet(Warehouse.table(spark, wh, t)) == want,
        s"backfill duplicated rows in $t")
    }
    // Raw access_keys deltas: fold boundaries differ between the
    // one-shot backfill and the 64-block reference batches, so compare
    // the COMPACTED views above; here just pin that the backfill wrote
    // SOMETHING for the registry.
    assert(akAfter1.nonEmpty, "backfill wrote no access-key deltas")
  }

  test("runbook: asymmetric non-strict flags backfill only the skipped satellite") {
    // processBatch allows per-satellite non-strict runs
    // (enableAccountChanges=true, enableAccessKeys=false); the ledger
    // records WHICH satellite each block skipped, and the backfill
    // must recompute only that one — account_changes has no identity
    // anti-join, so recomputing the never-skipped satellite would
    // append its rows a second time.
    val root = Files.createTempDirectory("graft_runbook_asym").toString
    val input = s"$root/input"; val wh = s"$root/wh"
    val chain = writeChainFiles(input)
    chain.grouped(64).foreach { batch =>
      Stream.processBatch(spark, Ingest.blocksFromJson(spark, batch).toDF(),
        wh, enableAccessKeys = false)
    }
    val acBefore = rowSet(Warehouse.table(spark, wh, "account_changes"))
    assert(acBefore.nonEmpty, "fixture wrote no account_changes")
    assert(Warehouse.tableOpt(spark, wh, "access_keys").isEmpty)
    Runbook.cli(spark, Array("re-index-range", "--input", input,
      "--warehouse", wh, "--from", "0", "--to", "1000000"))
    assert(rowSet(Warehouse.table(spark, wh, "account_changes")) == acBefore,
      "backfill recomputed the satellite that was never skipped")
    // The genuinely skipped satellite is backfilled to the healthy
    // reference (compacted view — fold boundaries differ).
    val whRef = s"$root/wh_ref"
    chain.grouped(64).foreach { batch =>
      Stream.processBatch(spark, Ingest.blocksFromJson(spark, batch).toDF(),
        whRef)
    }
    assert(rowSet(Warehouse.accessKeysCurrent(
        Warehouse.table(spark, wh, "access_keys")))
      == rowSet(Warehouse.accessKeysCurrent(
        Warehouse.table(spark, whRef, "access_keys"))),
      "backfilled access-keys view diverged from the healthy run")
  }

  test("runbook: a repair commit carries every state table; an emptied state stays absent") {
    // The backfill commits a version of its own, so every state table
    // the last batch left must reach that version unchanged — all of
    // them, not a hand-kept list of names.
    val root = Files.createTempDirectory("graft_runbook_carry").toString
    val input = s"$root/input"; val wh = s"$root/wh"
    val chain = graft.near.Fixtures.chain
    Files.createDirectories(Paths.get(input))
    Files.write(Paths.get(input, "b100.json"), chain(0).getBytes("UTF-8"))
    def version = graft.near.BatchCommit.currentVersion(spark, wh)
    val states = Seq(Stream.PendingDir, Stream.PendingEdgesDir,
      Stream.LineageAheadDir, Stream.TxRecentDir, Stream.BlocksRecentDir)
    def snapshot(): Map[String, Option[Seq[String]]] =
      states.map(n => n -> Stream.stateTable(spark, wh, n).map(rowSet)).toMap
    Stream.processBatch(spark, Ingest.blocksFromJson(spark, chain.take(1))
      .toDF(), wh, enableAccessKeys = false)
    val before = snapshot()
    assert(before(Stream.LineageAheadDir).exists(_.nonEmpty),
      "fixture carries no _lineage_ahead rows")
    Runbook.reindexRange(spark, input, wh, 100L, 100L)
    assert(version == 2L, s"the backfill committed no version of its own")
    val after = snapshot()
    states.foreach { n =>
      assert(after(n) == before(n), s"state $n changed across the repair " +
        s"commit: ${before(n).map(_.size)} -> ${after(n).map(_.size)} rows")
    }
    // R6 parks under a 1-retry budget, then drops: the batch that
    // empties `_pending` must not get the old version's rows back.
    Stream.processBatch(spark, Ingest.blocksFromJson(spark, chain.slice(1, 2))
      .toDF(), wh, maxRetries = 1)
    assert(Stream.stateTable(spark, wh, Stream.PendingDir).exists(
      _.count() > 0), "R6 did not park")
    Stream.processBatch(spark, Ingest.blocksFromJson(spark, chain.slice(2, 3))
      .toDF(), wh, maxRetries = 1)
    val pendingDir = Paths.get(graft.near.BatchCommit.statePath(wh, version,
      Stream.PendingDir))
    assert(!Files.exists(pendingDir), s"an emptied _pending left $pendingDir")
  }

  test("runbook: malformed invocations fail loudly with usage") {
    Seq(
      Array("frobnicate"),
      Array[String](),
      Array("re-index-range", "--input", "/tmp/x"), // missing --warehouse etc.
      Array("sync-from-block", "--height"), // flag without value
      Array("sync-from-block", "stray")
    ).foreach { bad =>
      val e = intercept[IllegalArgumentException](Runbook.cli(spark, bad))
      assert(e.getMessage.contains("usage:"), bad.mkString(" "))
    }
  }
}
