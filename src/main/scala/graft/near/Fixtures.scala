package graft.near

/** Deterministic fixture chain (FIXTURES.md §A): hand-authored
  * StreamerMessage JSONs exercising every tricky operator behavior —
  * delegate expansion, cross-block lineage, DataId lineage, orphan
  * skip, implicit accounts, delete-account lifecycle, access-key
  * placeholder, FT/NFT events with ordinals + malformed logs, the
  * issue84 hash collision, and a same-height fork.
  *
  * Used by both the ScalaTest golden specs and the `near_*` oracle
  * queries (`graft.queries.NearQueries`), so the gate exercises the
  * real ETL DAG end-to-end.
  */
object Fixtures {

  val b64Args: String = java.util.Base64.getEncoder.encodeToString(
    """{"receiver_id":"app.near","amount":"12"}""".getBytes("UTF-8"))
  private val B64Args = b64Args
  private val B64NotJson = java.util.Base64.getEncoder.encodeToString(
    "not json at all".getBytes("UTF-8"))

  val transfer = """{"Transfer":{"deposit":"10"}}"""
  val createAccount = "\"CreateAccount\""
  val deploy = """{"DeployContract":{"code":"Y29kZQ=="}}"""
  def fcall(b64: String) =
    s"""{"FunctionCall":{"method_name":"do_it","args":"$b64","gas":100000000,"deposit":"0"}}"""
  val stake = """{"Stake":{"stake":"5","public_key":"ed25519:PK1"}}"""
  val addKeyFull =
    """{"AddKey":{"public_key":"ed25519:AK1","access_key":{"nonce":0,"permission":"FullAccess"}}}"""
  val addKeyFc =
    """{"AddKey":{"public_key":"ed25519:AK2","access_key":{"nonce":5,"permission":{"FunctionCall":{"allowance":"250000000000","receiver_id":"app.near","method_names":["mint","burn"]}}}}}"""
  val deleteKey = """{"DeleteKey":{"public_key":"ed25519:AK1"}}"""
  val deleteAccount = """{"DeleteAccount":{"beneficiary_id":"bob.near"}}"""
  val delegate =
    s"""{"Delegate":{"delegate_action":{"sender_id":"alice.near","receiver_id":"bob.near","actions":[$transfer,${fcall(B64Args)}],"nonce":7,"max_block_height":200,"public_key":"ed25519:DK1"},"signature":"ed25519:sigD"}}"""

  val ImplicitId = "ab" * 32 // 64 chars ⇒ implicit account (accounts.rs:54)

  def tx(hash: String, signer: String, receiver: String, actions: String,
      status: String, receiptId: String): String =
    s"""{"transaction":{"hash":"$hash","signer_id":"$signer","public_key":"ed25519:PKs","nonce":1,"receiver_id":"$receiver","signature":"ed25519:sig","actions":[$actions]},"outcome":{"execution_outcome":{"id":"EO_$hash","outcome":{"status":$status,"gas_burnt":424555,"tokens_burnt":"424555000000000","receipt_ids":["$receiptId"]}}}}"""

  def actionReceipt(id: String, predecessor: String, receiver: String,
      signer: String, actions: String,
      outputData: String = "[]", inputData: String = "[]"): String =
    s"""{"predecessor_id":"$predecessor","receiver_id":"$receiver","receipt_id":"$id","receipt":{"Action":{"signer_id":"$signer","signer_public_key":"ed25519:PKs","gas_price":"100000000","output_data_receivers":$outputData,"input_data_ids":$inputData,"actions":[$actions]}}}"""

  def dataReceipt(id: String, dataId: String, data: String = "\"aGk=\""): String =
    s"""{"predecessor_id":"system","receiver_id":"bob.near","receipt_id":"$id","receipt":{"Data":{"data_id":"$dataId","data":$data}}}"""

  def outcome(receiptId: String, blockHash: String, status: String,
      produced: Seq[String], logs: Seq[String], receiptJson: String,
      executor: String = "bob.near"): String = {
    val logsJson = logs.mkString("[", ",", "]")
    val producedJson = produced.map(p => s"\"$p\"").mkString("[", ",", "]")
    s"""{"execution_outcome":{"id":"$receiptId","block_hash":"$blockHash","outcome":{"status":$status,"gas_burnt":1,"tokens_burnt":"100","executor_id":"$executor","logs":$logsJson,"receipt_ids":$producedJson}},"receipt":$receiptJson}"""
  }

  def chunk(hash: String, shardId: Long, txs: Seq[String], receipts: Seq[String]): String =
    s"""{"author":"val0","header":{"chunk_hash":"$hash","shard_id":$shardId,"signature":"ed25519:csig","gas_limit":"1000000000000000","gas_used":"424555"},"transactions":${txs.mkString("[", ",", "]")},"receipts":${receipts.mkString("[", ",", "]")}}"""

  def shard(id: Long, chunkJson: Option[String], outcomes: Seq[String],
      stateChanges: Seq[String]): String =
    s"""{"shard_id":$id,"chunk":${chunkJson.getOrElse("null")},"receipt_execution_outcomes":${outcomes.mkString("[", ",", "]")},"state_changes":${stateChanges.mkString("[", ",", "]")}}"""

  def block(height: Long, hash: String, prev: String, ts: String,
      shards: Seq[String]): String =
    s"""{"block":{"author":"val0","header":{"height":$height,"hash":"$hash","prev_hash":"$prev","timestamp":$ts,"total_supply":"1178709068419829947981959148837955","gas_price":"100000000"}},"shards":${shards.mkString("[", ",", "]")}}"""

  val svOk = """{"SuccessValue":""}"""
  def srId(r: String) = s"""{"SuccessReceiptId":"$r"}"""
  val failed = """{"Failure":{"ActionError":{"index":0,"kind":{}}}}"""

  def scAccountUpdate(account: String, cause: String, amount: String = "110"): String =
    s"""{"cause":$cause,"type":"account_update","change":{"account_id":"$account","amount":"$amount","locked":"0","code_hash":"11111111111111111111111111111111","storage_usage":182,"storage_paid_at":0}}"""
  def scAccountDeletion(account: String, cause: String): String =
    s"""{"cause":$cause,"type":"account_deletion","change":{"account_id":"$account"}}"""
  def scAccessKeyUpdate(account: String, key: String, cause: String,
      permission: String = "\"FullAccess\""): String =
    s"""{"cause":$cause,"type":"access_key_update","change":{"account_id":"$account","public_key":"$key","access_key":{"nonce":1,"permission":$permission}}}"""
  def scAccessKeyDeletion(account: String, key: String, cause: String): String =
    s"""{"cause":$cause,"type":"access_key_deletion","change":{"account_id":"$account","public_key":"$key"}}"""

  def causeTx(h: String) = s"""{"type":"transaction_processing","tx_hash":"$h"}"""
  def causeReceipt(r: String) = s"""{"type":"receipt_processing","receipt_hash":"$r"}"""
  def causeGasReward(r: String) = s"""{"type":"action_receipt_gas_reward","receipt_hash":"$r"}"""

  val ftMintLog =
    "\"EVENT_JSON:{\\\"standard\\\":\\\"nep141\\\",\\\"version\\\":\\\"1.0.0\\\",\\\"event\\\":\\\"ft_mint\\\",\\\"data\\\":[{\\\"owner_id\\\":\\\"bob.near\\\",\\\"amount\\\":\\\"100\\\"},{\\\"owner_id\\\":\\\"carol.near\\\",\\\"amount\\\":\\\"50\\\",\\\"memo\\\":\\\"me\\\\u0000mo\\\"}]}\""
  val ftTransferLog =
    "\"EVENT_JSON:{\\\"standard\\\":\\\"nep141\\\",\\\"version\\\":\\\"1.0.0\\\",\\\"event\\\":\\\"ft_transfer\\\",\\\"data\\\":[{\\\"old_owner_id\\\":\\\"bob.near\\\",\\\"new_owner_id\\\":\\\"alice.near\\\",\\\"amount\\\":\\\"7\\\"}]}\""
  val nftTransferLog =
    "\"EVENT_JSON:{\\\"standard\\\":\\\"nep171\\\",\\\"version\\\":\\\"1.0.0\\\",\\\"event\\\":\\\"nft_transfer\\\",\\\"data\\\":[{\\\"authorized_id\\\":\\\"app.near\\\",\\\"old_owner_id\\\":\\\"bob.near\\\",\\\"new_owner_id\\\":\\\"carol.near\\\",\\\"token_ids\\\":[\\\"tk1\\\",\\\"tk2\\\"]}]}\""
  val nftMintLog =
    "\"EVENT_JSON:{\\\"standard\\\":\\\"nep171\\\",\\\"version\\\":\\\"1.0.0\\\",\\\"event\\\":\\\"nft_mint\\\",\\\"data\\\":[{\\\"owner_id\\\":\\\"bob.near\\\",\\\"token_ids\\\":[\\\"tkm1\\\",\\\"tkm2\\\"]},{\\\"owner_id\\\":\\\"carol.near\\\",\\\"token_ids\\\":[\\\"tkm3\\\"]}]}\""
  val nftBurnLog =
    "\"EVENT_JSON:{\\\"standard\\\":\\\"nep171\\\",\\\"version\\\":\\\"1.0.0\\\",\\\"event\\\":\\\"nft_burn\\\",\\\"data\\\":[{\\\"owner_id\\\":\\\"carol.near\\\",\\\"authorized_id\\\":\\\"app.near\\\",\\\"token_ids\\\":[\\\"tk2\\\"]}]}\""
  val malformedEventLog =
    "\"EVENT_JSON:{\\\"standard\\\":\\\"nep141\\\",\\\"event\\\":\\\"ft_mint\\\",\\\"data\\\":5}\""
  val plainLog = "\"regular log line\""

  /** FunctionCall access-key permission body (the non-FullAccess shape
    * access_keys.rs:32-41 folds to FUNCTION_CALL).
    */
  val fcPermission =
    """{"FunctionCall":{"allowance":"250000000000","receiver_id":"app.near","method_names":["mint","burn"]}}"""

  /** The full fixture chain. */
  def chain: Seq[String] = {
    val ts0 = "1700000000000000000"
    val ts1 = "1700000001000000000"
    val ts2 = "1700000002000000000"

    // Block 100: txs T1 (transfer) + T2 (8 non-delegate action kinds);
    // local receipt R1 with output data D1; outcome of R1 produces R3.
    val r1 = actionReceipt("R1", "alice.near", "bob.near", "alice.near",
      transfer, outputData = """[{"data_id":"D1","receiver_id":"bob.near"}]""")
    val c100 = chunk("C100", 0,
      txs = Seq(
        tx("T1", "alice.near", "bob.near", transfer, svOk, "R1"),
        tx("T2", "alice.near", "carol.near",
          Seq(createAccount, deploy, fcall(B64Args), fcall(B64NotJson),
            stake, addKeyFull, addKeyFc, deleteKey).mkString(","),
          srId("R2"), "R2")),
      receipts = Seq(r1))
    val b100 = block(100, "B100", "B099", ts0, Seq(
      shard(0, Some(c100),
        outcomes = Seq(
          outcome("R1", "B100", svOk, produced = Seq("R3"), logs = Seq(),
            receiptJson = r1)),
        stateChanges = Seq(
          scAccountUpdate("bob.near", causeReceipt("R1")),
          scAccessKeyUpdate("alice.near", "ed25519:AK1", causeReceipt("R1")),
          scAccountUpdate("alice.near", causeTx("T1"), amount = "90")))))

    // Block 101: delegate tx T3; cross-block receipt R3 (parent tx T1 via
    // R1's outcome), data receipt R5 (via D1), orphan R6; outcome of R2
    // creates carol.near + emits FT/NFT events; implicit-account transfer.
    val c101 = chunk("C101", 0,
      txs = Seq(
        tx("T3", "alice.near", "bob.near", delegate, svOk, "R4"),
        tx("T7", "relayer.near", "bob.near", transfer, svOk, "R12")),
      receipts = Seq(
        actionReceipt("R3", "bob.near", "alice.near", "alice.near",
          fcall(B64Args), inputData = """["D1"]"""),
        dataReceipt("R5", "D1"),
        actionReceipt("R6", "ghost.near", "bob.near", "ghost.near",
          fcall(B64Args)),
        // receipt-side delegate (P10): expands in action_receipt_actions
        actionReceipt("R12", "relayer.near", "bob.near", "relayer.near",
          delegate)))
    val b101 = block(101, "B101", "B100", ts1, Seq(
      shard(0, Some(c101),
        outcomes = Seq(
          outcome("R2", "B101", srId("R7"), produced = Seq("R7"),
            logs = Seq(ftMintLog, malformedEventLog, plainLog, nftTransferLog),
            receiptJson = actionReceipt("R2", "alice.near", "carol.near",
              "alice.near", createAccount), executor = "carol.near"),
          outcome("R8", "B101", svOk, produced = Seq(),
            logs = Seq(ftTransferLog),
            receiptJson = actionReceipt("R8", "alice.near", ImplicitId,
              "alice.near", transfer))),
        stateChanges = Seq(
          scAccessKeyDeletion("eve.near", "ed25519:AK9", causeReceipt("R2")),
          scAccountDeletion("dave.near", causeReceipt("R2")),
          scAccountUpdate("carol.near", causeGasReward("R2"), amount = "55")))))

    // Block 102a: duplicate tx hash T1 (issue84 suffix); DeleteAccount
    // for carol.near via receipt R7; lockup account creation T5 → R10
    // (feeds the aggregated__lockups view).
    val r10 = actionReceipt("R10", "alice.near", "fund.lockup.near",
      "alice.near", createAccount)
    // T6 appears in BOTH fork branches with the SAME converted receipt
    // (fork duplicate ⇒ PK dedup, no issue84 suffix — the discriminator
    // is converted_into_receipt_id, transactions.rs:62-75).
    val t6 = tx("T6", "frank.near", "bob.near", transfer, svOk, "R11")
    val c102 = chunk("C102", 0,
      txs = Seq(
        tx("T1", "mallory.near", "bob.near", transfer, svOk, "R9"),
        tx("T5", "alice.near", "fund.lockup.near", createAccount, svOk, "R10"),
        t6),
      receipts = Seq(r10))
    val b102a = block(102, "B102a", "B101", ts2, Seq(
      shard(0, Some(c102),
        outcomes = Seq(
          outcome("R7", "B102a", svOk, produced = Seq(),
            logs = Seq(),
            receiptJson = actionReceipt("R7", "alice.near", "carol.near",
              "alice.near", deleteAccount), executor = "carol.near"),
          outcome("R10", "B102a", svOk, produced = Seq(),
            logs = Seq(), receiptJson = r10, executor = "fund.lockup.near")),
        stateChanges = Seq()),
      // shard with no chunk but present in the message (b016)
      shard(1, None, outcomes = Seq(), stateChanges = Seq())))

    // Block 102b: same-height fork (b015) — different hash; carries the
    // fork-duplicate T6 (same hash AND same converted receipt as in
    // B102a ⇒ deduped, not suffixed).
    val b102b = block(102, "B102b", "B101", ts2, Seq(
      shard(0, Some(chunk("C102b", 0, Seq(t6), Seq())), Seq(), Seq())))

    Seq(b100, b101, b102a, b102b)
  }

  /** Lockup contract state for fund.lockup.near as the RPC point
    * source (S4) would return it at block 102: plain 4-year linear
    * release, no vesting, transfers timestamp injected
    * (lockup.rs:66-73). Stands in for ViewState in tests/queries.
    */
  def lockupStates: Seq[Lockup.State] = Seq(
    Lockup.State(
      accountId = "fund.lockup.near",
      codeHash = "4Pfw2RU6e35dUsHQQoFYfwX8KFFvSRNwMSNLXuSFHXrC",
      lockupAmount = "1000000000000000000000000000000",
      terminationWithdrawnTokens = "0",
      lockupDuration = 0L,
      releaseDuration = Some(126230400000000000L), // 4y of nanos
      lockupTimestamp = None,
      transfersTimestamp = Lockup.TransfersEnabledNs,
      vestingType = Lockup.VestingNone,
      vestingStart = None, vestingCliff = None, vestingEnd = None,
      terminatingUnvestedAmount = None))

  /** Σ balances of [lockup.near, contributors.near] (main.rs:208-218). */
  val foundationLocked: BigInt = BigInt("300000000000000000000000000000000")

  /** Deterministic genesis document for the S3 oracle gate
    * (genesis.rs:43-132): Account and AccessKey records at volume with
    * mixed FullAccess / FunctionCall permissions (string vs object
    * form in the SAME file — the schema-inference branch), ignored
    * record kinds interleaved, keys for accounts that have no Account
    * record, and a 64-char implicit account. The engine runs the real
    * streamed split (token-level JSON → JSONL → distributed read);
    * the DuckDB twin re-parses this document independently.
    */
  def genesisJson(nAccounts: Int = 200, nKeys: Int = 300): String = {
    val sb = new StringBuilder
    sb.append("""{"protocol_version":29,"genesis_height":9820210,"config":{"chain_id":"fixture"},"records":[""")
    var first = true
    def add(s: String): Unit = {
      if (!first) sb.append(','); sb.append(s); first = false
    }
    for (i <- 0 until nAccounts) {
      add(s"""{"Account":{"account_id":"gacct$i.near","account":{"amount":"${1000L + i}","locked":"0","code_hash":"11111111111111111111111111111111","storage_usage":${100 + i}}}}""")
      if (i % 7 == 0) // ignored record kind (genesis.rs:94-113)
        add(s"""{"Contract":{"account_id":"gacct$i.near","code":"AA=="}}""")
    }
    for (i <- 0 until nKeys) {
      val perm =
        if (i % 3 == 0)
          """{"FunctionCall":{"allowance":"1000000","receiver_id":"app.near","method_names":["go"]}}"""
        else "\"FullAccess\""
      // i % (nAccounts + 20): some keys belong to accounts with no
      // Account record — the loader must not join them away
      add(s"""{"AccessKey":{"account_id":"gacct${i % (nAccounts + 20)}.near","public_key":"ed25519:GK$i","access_key":{"nonce":$i,"permission":$perm}}}""")
    }
    add(s"""{"Account":{"account_id":"${"cd" * 32}","account":{"amount":"5","locked":"0","code_hash":"11111111111111111111111111111111","storage_usage":64}}}""")
    sb.append("]}")
    sb.toString
  }

  /** Synthetic chain for scale/throughput testing: `n` blocks of
    * `txPerBlock` transactions each, with realistic NEAR receipt flow —
    * a tx in block i converts to receipt SR_i_j which lands in block
    * i+1's chunk; its outcome (also block i+1) produces PR_i_j which
    * lands in block i+2. Lineage is therefore 1–2 hops and always
    * crosses block boundaries, exercising the fixpoint the way mainnet
    * does. FT event logs are attached every 8th block.
    */
  def syntheticChain(n: Int, txPerBlock: Int = 4): Seq[String] = {
    val baseTs = 1700000000000000000L
    (0 until n).map { i =>
      val txs = (0 until txPerBlock).map { j =>
        tx(s"STX${i}_$j", s"user$j.near", "app.near", transfer, svOk,
          s"SR${i}_$j")
      }
      // receipts from block i-1's txs + produced receipts from block i-2
      val srReceipts =
        if (i == 0) Seq.empty
        else (0 until txPerBlock).map { j =>
          actionReceipt(s"SR${i - 1}_$j", s"user$j.near", "app.near",
            s"user$j.near", transfer)
        }
      val prReceipts =
        if (i < 2) Seq.empty
        else (0 until txPerBlock).map { j =>
          actionReceipt(s"PR${i - 2}_$j", "app.near", s"user$j.near",
            s"user$j.near", transfer)
        }
      // outcome of SR (block i-1's tx receipt) produces PR
      val outcomes =
        if (i == 0) Seq.empty
        else (0 until txPerBlock).map { j =>
          val logs = if (i % 8 == 0 && j == 0) Seq(ftMintLog) else Seq.empty
          outcome(s"SR${i - 1}_$j", s"SB$i", svOk,
            produced = Seq(s"PR${i - 1}_$j"), logs = logs,
            receiptJson = actionReceipt(s"SR${i - 1}_$j", s"user$j.near",
              "app.near", s"user$j.near", transfer),
            executor = "app.near")
        }
      val stateChanges = Seq(
        scAccountUpdate("app.near", causeReceipt(s"SR${i}_0"),
          amount = (1000 + i).toString))
      val c = chunk(s"SC$i", 0, txs, srReceipts ++ prReceipts)
      block(1000 + i, s"SB$i", s"SB${i - 1}",
        (baseTs + i * 1000000000L).toString,
        Seq(shard(0, Some(c), outcomes, stateChanges)))
    }
  }
}
