package indexbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.near._

/** Entry point of the JVM half of the benchmark.
  *
  *   gen --seed S --blocks N --dir D      write the seeded lake files
  *   null-fingerprints --dir D            table-check fingerprints of
  *                                        rows that differ only in nulls
  *   run --workload W --seed S --seconds T --trace 0|1 --cores C
  *       --root D --out F --trace-out F   run one workload
  *
  * `run` writes raw samples and counts to `--out` as one JSON object;
  * `run.py` turns them into the reported metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val flags = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("gen") =>
        val dir = Paths.get(flags("dir"))
        Files.createDirectories(dir)
        ChainGen.chain(flags("seed").toLong, flags("blocks").toInt)
          .foreach(ChainGen.write(dir, _))
      case Some("run") => new Run(flags).run()
      case Some("null-fingerprints") => nullFingerprints(Paths.get(flags("dir")))
      case _ => throw new IllegalArgumentException(
        "usage: gen|run|null-fingerprints --flag value ...")
    }
  }

  /** Prints the fingerprints of one-row tables (a = x, b = null),
    * (a = null, b = x) and the first again, one a line: the tests of the
    * benchmark check that the table check tells the first two apart.
    */
  private def nullFingerprints(dir: Path): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .getOrCreate()
    try {
      import spark.implicits._
      Seq[(Option[String], Option[String])]((Some("x"), None), (None, Some("x")), (Some("x"), None))
        .foreach(r => println(Check.fingerprint(Seq(r).toDF("a", "b"))))
    } finally spark.stop()
  }
}

/** One query type of the explorer mix. */
final case class QueryType(name: String,
    build: (Tables, Params, scala.util.Random) => DataFrame)

/** The tables a query reads, resolved once per run the way a serving
  * process holds its DataFrames.
  */
final class Tables(get: String => DataFrame) {
  private val cache = mutable.Map[String, DataFrame]()
  def apply(name: String): DataFrame = synchronized(cache.getOrElseUpdate(name, get(name)))
}

/** Query parameters drawn from the generated chain. */
final class Params(val txHashes: IndexedSeq[String], val signers: IndexedSeq[String],
    val receivers: IndexedSeq[String], val balanceAccounts: IndexedSeq[String],
    val ftPairs: IndexedSeq[(String, String)], val nftPairs: IndexedSeq[(String, String)],
    val lockupStates: Dataset[Lockup.State])

final class Run(flags: Map[String, String]) {
  import Run._

  private val workload = flags("workload")
  private val seed = flags("seed").toLong
  private val seconds = flags("seconds").toDouble
  private val traced = flags("trace") == "1"
  private val cores = flags("cores").toInt
  private val root = Paths.get(flags("root"))
  private val tracer = new Tracer
  private var spark: SparkSession = session(cores)

  private val out = mutable.LinkedHashMap[String, Any]()
  private val layers = mutable.LinkedHashMap[String, Any]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attempted = new AtomicLong(0)

  private def session(n: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("indexbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()

  /** Phase progress on stderr (the run log). */
  private def note(what: String): Unit =
    System.err.println(f"[indexbench ${(System.nanoTime() - started) / 1e9}%7.2fs] $what")

  private def span[A](layer: String, name: String)(body: => A): A = {
    if (layer != "query") note(s"$layer:$name")
    tracer.span(spark, layer, name)(body)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Runs `body` with the tracer's listeners removed. */
  private def untraced(body: => Unit): Unit = {
    tracer.uninstall(spark)
    try body finally tracer.install(spark)
  }

  private def dir(name: String): String = root.resolve(name).toString

  private def fail(what: String): Unit = { failures.add(what); () }

  def run(): Unit = {
    try {
      workload match {
        case "backfill" => backfill()
        case "explorer" => explorer()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (traced) {
        layers("jvm.peak_heap_mb") = java.lang.management.ManagementFactory
          .getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1048576.0
        tracer.write(Paths.get(flags("trace-out")))
      }
      note("done")
    } finally spark.stop()
    out("workload") = workload
    out("mix") = queryTypes.map(_.name -> 1).toMap
    out("attempted") = attempted.get
    out("failures") = failures.asScala.toSeq
    out("layers") = layers.toMap
    Files.write(Paths.get(flags("out")), Json.render(out.toMap)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // ---------------------------------------------------------------- ingest

  /** `Stream.run` as the runbook's `sync-from-block` verb calls it
    * (strict mode from the chain's first height), with the
    * `AvailableNow` trigger: index every file present, then stop.
    */
  private def startBackfill(lake: String, wh: String, ck: String,
      minHeight: Long): StreamingQuery =
    span("stream", "Stream.run") {
      val q = Stream.run(spark, lake, wh, ck, trigger = Trigger.AvailableNow(),
        minHeight = minHeight, maxRetries = Int.MaxValue,
        enableAccountChanges = true, enableAccessKeys = true)
      tracer.alias(q.runId.toString, tracer.current)
      q
    }

  /** Seconds from start until the backfill has indexed every file. */
  private def streamBackfill(lake: String, wh: String, ck: String, minHeight: Long): Double =
    timed(startBackfill(lake, wh, ck, minHeight).awaitTermination())._2

  /** Map over `xs` on `cores` threads of a fresh pool, whose threads
    * inherit this thread's Spark job group; Spark runs their jobs
    * concurrently. Used for checks, which are not timed.
    */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val parent = tracer.current
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      xs.map { x =>
        pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = { tracer.adopt(parent); f(x) }
        })
      }.map(_.get())
    } finally pool.shutdown()
  }

  private def writeLake(d: Path, blocks: Seq[ChainGen.Block]): Unit = {
    Files.createDirectories(d)
    blocks.foreach(ChainGen.write(d, _))
  }

  /** The batch path over the lake: parse (persisted) and build the 17
    * tables, with a fingerprint of each when asked for.
    */
  private def reference(lake: String, fingerprint: Boolean): Reference = {
    val n = span("check", "reference.parse") {
      val df = Ingest.blocks(spark, lake).toDF().persist()
      df.count()
      df
    }
    span("check", "reference.allTables") {
      val tables = Ingest.allTables(n)
      val fps =
        if (fingerprint) parMap(tables.toSeq) { case (k, df) => k -> Check.fingerprint(df) }.toMap
        else Map.empty[String, (Long, BigDecimal)]
      layers("transforms.rows_out") = fps.values.map(_._1).sum
      Reference(n, tables, fps)
    }
  }

  /** Compare each warehouse table with its batch-path fingerprint. A
    * table absent from the warehouse matches an empty batch table.
    */
  private def checkTables(wh: String, ref: Map[String, (Long, BigDecimal)]): Unit =
    span("check", "tables") {
      attempted.addAndGet(ref.size.toLong)
      parMap(ref.toSeq.sortBy(_._1)) { case (name, want) =>
        val got = Check.warehouseView(spark, wh, name).map(Check.fingerprint)
          .getOrElse((0L, BigDecimal(0)))
        if (got != want)
          fail(s"table $name: rows/hash ${got._1}/${got._2} != batch ${want._1}/${want._2}")
      }
    }

  private def recordWarehouse(wh: String, blocks: Int): Unit = {
    val (files, bytes) = Check.warehouseFiles(Paths.get(wh))
    out("warehouse") = Map("files" -> files, "bytes" -> bytes, "blocks" -> blocks)
  }

  // -------------------------------------------------------------- backfill

  private def backfill(): Unit = {
    val chain = ChainGen.chain(seed, BackfillBlocks)
    val lake = dir("lake")
    // Set-up: the lake, and the batch-path reference over it for the
    // table check, which also warms the parse and transform code the
    // timed pass runs.
    val (ref, setupS) = timed {
      writeLake(Paths.get(lake), chain)
      val ref = reference(lake, fingerprint = true)
      ref.norm.unpersist()
      ref
    }
    out("setup_s") = Seq(setupS)
    out("blocks") = chain.size
    out("input_bytes") = chain.map(_.json.length.toLong).sum

    // Timed part: one AvailableNow backfill into an empty warehouse. A
    // traced run traces it, then makes the same pass untraced into
    // another warehouse, for the trace overhead.
    val minHeight = chain.head.height
    if (traced) tracer.install(spark)
    attempted.incrementAndGet()
    out("backfill_s") =
      Seq(span("phase", "measure")(streamBackfill(lake, dir("wh"), dir("ck"), minHeight)))
    if (traced) untraced {
      attempted.incrementAndGet()
      out("backfill_untraced_s") =
        Seq(streamBackfill(lake, dir("wh-untraced"), dir("ck-untraced"), minHeight))
    }
    recordWarehouse(dir("wh"), chain.size)
    checkTables(dir("wh"), ref.fingerprints)

    if (traced) {
      val tables = warehouseTables(dir("wh"))
      val params = paramsFrom(tables)
      out("queries") = span("phase", "query-probe") {
        queryTypes.map { q =>
          (q.name, timed(runQuery(q, tables, params, new scala.util.Random(seed)))._2)
        }
      }
      sparkLayer(_.name == "measure")
      layerProbes(chain, dir("wh"), dir("ck"), lake)
    }
  }

  // -------------------------------------------------------------- explorer

  private def explorer(): Unit = {
    val chain = ChainGen.chain(seed, ExplorerBlocks)
    val lake = dir("lake")
    val wh = dir("wh")
    // Set-up: the lake and the backfill that builds the warehouse the
    // queries read. A traced run traces it: it is the run's microbatch.
    if (traced) tracer.install(spark)
    val setupS = timed {
      writeLake(Paths.get(lake), chain)
      attempted.incrementAndGet()
      streamBackfill(lake, wh, dir("ck"), chain.head.height)
    }._2
    out("setup_s") = Seq(setupS)
    out("blocks") = chain.size
    out("input_bytes") = chain.map(_.json.length.toLong).sum
    recordWarehouse(wh, chain.size)

    val tables = warehouseTables(wh)
    val params = paramsFrom(tables)
    out("queries") = span("phase", "measure")(closedLoop(tables, params))
    out("clients") = Clients
    // A traced run then runs the same load untraced, for the trace
    // overhead.
    if (traced) untraced { out("queries_untraced") = closedLoop(tables, params) }

    // After the load: every query type once on the warehouse and once on
    // the batch-path tables, with the same parameters.
    val ref = reference(lake, fingerprint = traced)
    val batchTables = new Tables(ref.tables.apply)
    span("check", "queries") {
      parMap(queryTypes) { q =>
        attempted.incrementAndGet()
        val b = q.build(batchTables, params, new scala.util.Random(seed))
        val a = q.build(tables, params, new scala.util.Random(seed))
          .select(b.columns.toIndexedSeq.map(col): _*).collect()
        if (!Check.sameRows(a, b.collect()))
          fail(s"query ${q.name}: warehouse rows differ from batch rows")
      }
    }
    ref.norm.unpersist()

    if (traced) {
      sparkLayer(_.name == "measure")
      layerProbes(chain, wh, dir("ck"), lake)
    }
  }

  /** Per-layer numbers a traced run takes after its measurement, with
    * the JVM warm: parse and `allTables` called on their own over the
    * lake, then lineage, then the same parse and `allTables` at
    * `local[1]`.
    */
  private def layerProbes(chain: Seq[ChainGen.Block], wh: String, ck: String,
      lake: String): Unit = {
    val docs = chain.map(_.json)
    val passes = (0 until 3).map(_ => timed(docs.foreach(BlockParser.parse))._2)
    layers("parser.blocks") = docs.size
    layers("parser.bytes_in") = docs.map(_.getBytes("UTF-8").length.toLong).sum
    layers("parser.us_per_block_1t") = median(passes) / docs.size * 1e6

    def parseAndTransform(): (DataFrame, Double, Double) = {
      val (norm, parseS) = timed(span("parser", "Ingest.blocks") {
        val n = Ingest.blocks(spark, lake).toDF().persist()
        n.count()
        n
      })
      val allS = timed(span("transforms", "Ingest.allTables") {
        Ingest.allTables(norm).values.foreach(_.write.format("noop").mode("overwrite").save())
      })._2
      (norm, parseS, allS)
    }
    val (norm, parseS, allS) = parseAndTransform()
    layers("parser.busy_s") = parseS
    val linS = lineageProbe(norm)
    norm.unpersist()
    val all = tracer.workUnder(_.name == "Ingest.allTables")
    val lin = tracer.workUnder(_.name == "Lineage.resolve")
    layers("transforms.busy_s") = allS - linS
    layers("transforms.spark_jobs") = all.jobs - lin.jobs
    layers("transforms.shuffle_bytes") = math.max(0L, all.shuffleWriteBytes - lin.shuffleWriteBytes)

    val batches = tracer.batches.asScala.toSeq
    // The measured microbatch (parse inside) minus parse and allTables
    // over the same blocks.
    layers("stream.overhead_s") = batches.map(_.addBatchMs / 1e3 - parseS - allS)
    layers("stream.blocks_per_batch") = Check.filesPerBatch(Paths.get(ck))
    layers("stream.batch_s") = batches.map(_.triggerMs / 1e3)
    layers("stream.spark_jobs_per_batch") =
      tracer.jobsByBatch.values().asScala.toSeq.map(_.get.toDouble)
    layers("stream.state_bytes") = Check.stateBytes(Paths.get(wh))
    val (files, bytes) = Check.warehouseFiles(Paths.get(wh))
    layers("commit.files_per_batch") = files
    layers("commit.bytes_per_batch") = bytes
    queryLayer()

    tracer.uninstall(spark)
    spark.stop()
    spark = session(1)
    val (n1, p1, a1) = parseAndTransform()
    n1.unpersist()
    layers("spark.local1_batch_s") = p1 + a1
    layers("spark.parallel_speedup") = (p1 + a1) / (parseS + allS)
  }

  /** Closed loop: [[Clients]] threads, each issuing its next seeded
    * query as soon as the previous one returns. The first `seconds / 4`
    * warm the query paths and are not recorded; the queries that start
    * in the next `seconds` are.
    */
  private def closedLoop(tables: Tables, params: Params): Seq[(String, Double)] = {
    val samples = new ConcurrentLinkedQueue[(String, Double)]()
    val window = (seconds * 1e9).toLong
    val measured = System.nanoTime() + window / 4
    val end = measured + window
    val parent = tracer.current
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rnd = new scala.util.Random(seed * 1000003L + c)
        // Clients start half a cycle apart, so together they cover it.
        var slot = (seed.toInt & 0xffff) % mix.size + c * mix.size / Clients
        while (System.nanoTime() < end) {
          val q = mix(slot % mix.size)
          slot += 1
          tracer.adopt(parent)
          attempted.incrementAndGet()
          val recorded = System.nanoTime() >= measured
          try {
            val (_, s) = timed(runQuery(q, tables, params, rnd))
            if (recorded) samples.add((q.name, s))
          } catch {
            case e: Exception => fail(s"query ${q.name}: ${e.getMessage}")
          }
        }
      }, s"explorer-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    samples.asScala.toSeq
  }

  // ----------------------------------------------------------------- query

  private def warehouseTables(wh: String): Tables = new Tables({
    case "accounts" => Warehouse.accountsCurrent(Warehouse.table(spark, wh, "accounts"))
    case name => Warehouse.table(spark, wh, name)
  })

  private def paramsFrom(t: Tables): Params = {
    def strings(df: DataFrame): IndexedSeq[String] =
      df.distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
    def pairs(df: DataFrame): IndexedSeq[(String, String)] =
      df.distinct().collect().map(r => (r.getString(0), r.getString(1))).sorted.toIndexedSeq
    val s = spark
    import s.implicits._
    val Seq(hashes, signers, receivers, accounts) = parMap(Seq(
      t("transactions").select(col("transaction_hash")),
      t("transactions").select(col("signer_account_id")),
      t("receipts").select(col("receiver_account_id")),
      t("account_changes").select(col("affected_account_id"))))(strings)
    val Seq(ft, nft) = parMap(Seq(
      t("assets__fungible_token_events").select(
        col("emitted_by_contract_account_id"),
        coalesce(col("token_new_owner_account_id"), col("token_old_owner_account_id"))
          .as("account"))
        .filter(col("account").isNotNull),
      t("assets__non_fungible_token_events").select(
        col("emitted_by_contract_account_id"), col("token_id"))))(pairs)
    new Params(hashes, signers, receivers, accounts, ft, nft,
      spark.createDataset(ScaleChain.lockupStates))
  }

  private def pick[A](xs: IndexedSeq[A], rnd: scala.util.Random): A = xs(rnd.nextInt(xs.size))

  private lazy val queryTypes: Seq[QueryType] = Seq(
    QueryType("transactionByHash", (t, p, r) =>
      ConsumerQueries.transactionByHash(t("transactions"), pick(p.txHashes, r))),
    QueryType("latestBlockHeight", (t, _, _) =>
      Views.latestBlockHeight(t("blocks"))),
    QueryType("transactionsBySigner", (t, p, r) =>
      ConsumerQueries.transactionsBySigner(t("transactions"), pick(p.signers, r))),
    QueryType("receiptsByReceiver", (t, p, r) =>
      ConsumerQueries.receiptsByReceiver(t("receipts"), pick(p.receivers, r))),
    QueryType("transactionReceiptTree", (t, p, r) =>
      ConsumerQueries.transactionReceiptTree(t("receipts"), t("execution_outcomes"),
        pick(p.txHashes, r))),
    QueryType("ftHistory", (t, p, r) => {
      val (c, a) = pick(p.ftPairs, r)
      ConsumerQueries.ftHistory(t("assets__fungible_token_events"), c, a)
    }),
    QueryType("nftTokenHistory", (t, p, r) => {
      val (c, tok) = pick(p.nftPairs, r)
      ConsumerQueries.nftTokenHistory(t("assets__non_fungible_token_events"), c, tok)
    }),
    QueryType("accountBalanceHistory", (t, p, r) =>
      ConsumerQueries.accountBalanceHistory(t("account_changes"), pick(p.balanceAccounts, r))),
    QueryType("functionCallsByMethod", (t, _, r) =>
      ConsumerQueries.functionCallsByMethod(t("action_receipt_actions"), "do_it",
        if (r.nextBoolean()) Some("app.near") else None)),
    QueryType("dailyGasStats", (t, _, _) =>
      ConsumerQueries.dailyGasStats(t("execution_outcomes"))),
    QueryType("dailyActiveAccounts", (t, _, _) =>
      ConsumerQueries.dailyActiveAccounts(t("transactions"))),
    QueryType("dailyCirculatingSupply", (t, p, _) =>
      Views.dailyCirculatingSupply(spark, t("blocks"),
        Views.aggregatedLockups(t("accounts"), t("receipts"), t("blocks")),
        p.lockupStates, Fixtures.foundationLocked)),
  )

  /** The query mix: one cycle of [[queryTypes]], one call of each.
    * No published call mix of a NEAR explorer was found, so the types
    * weigh the same; 9 of the 12 are lookups and account pages.
    */
  private lazy val mix: IndexedSeq[QueryType] = queryTypes.toIndexedSeq

  private val planStats = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  /** Collect one query; when traced, record the files, bytes and rows
    * its file scans read, from the executed plan's SQL metrics.
    */
  private def runQuery(q: QueryType, t: Tables, p: Params, rnd: scala.util.Random): Unit =
    span("query", q.name) {
      val df = q.build(t, p, rnd)
      val rows = df.collect().length.toLong
      if (tracer.current != 0) {
        val scans = leaves(df.queryExecution.executedPlan).collect {
          case s: FileSourceScanExec => s
        }
        def metric(s: SparkPlan, names: String*): Long =
          names.flatMap(s.metrics.get).headOption.map(_.value).getOrElse(0L)
        planStats.add((scans.map(metric(_, "numFiles")).sum,
          scans.map(metric(_, "filesSize", "staticFilesSize")).sum,
          scans.map(metric(_, "numOutputRows")).sum, rows))
      }
    }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case s: QueryStageExec => leaves(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
  }

  // ---------------------------------------------------------------- layers

  /** Lineage over the same blocks, run on its own so its busy time and
    * jobs can be taken out of the `allTables` span. Returns its seconds.
    */
  private def lineageProbe(norm: DataFrame): Double = {
    val rBase = Transforms.receiptsBase(norm).localCheckpoint(true)
    val txs = Transforms.transactions(Transforms.transactionsBase(norm)).localCheckpoint(true)
    val eor = Transforms.executionOutcomeReceipts(Transforms.outcomesBase(norm))
      .localCheckpoint(true)
    val od = Transforms.actionReceiptOutputData(rBase).localCheckpoint(true)
    val dr = Transforms.dataReceipts(rBase).localCheckpoint(true)
    val receipts = rBase.select(col("r.receiptId").as("id")).distinct().localCheckpoint(true)
    val (resolved, s) = timed(span("lineage", "Lineage.resolve") {
      Lineage.resolve(txs, eor, od, dr).localCheckpoint(true)
    })
    val seen = receipts.count()
    val resolvedReceipts = resolved
      .join(receipts, col("lineage_receipt_id") === col("id"), "left_semi").count()
    layers("lineage.busy_s") = s
    layers("lineage.edges") = Lineage.edges(eor, od, dr).count()
    layers("lineage.spark_jobs") = tracer.workUnder(_.name == "Lineage.resolve").jobs
    layers("lineage.resolved_ratio") = if (seen == 0) 1.0 else resolvedReceipts.toDouble / seen
    s
  }

  /** Spark work under the matching spans; busy share against their wall. */
  private def sparkLayer(pred: Span => Boolean): Unit = {
    val w = tracer.workUnder(pred)
    val wallS = tracer.seconds(pred).sum
    layers("spark.jobs") = w.jobs
    layers("spark.stages") = w.stages
    layers("spark.tasks") = w.tasks
    layers("spark.task_busy_share") =
      if (wallS <= 0) 0.0 else w.runMs / 1e3 / (wallS * cores)
    layers("spark.scheduler_delay_s") = w.schedDelayMs / 1e3
    layers("spark.gc_s") = w.gcMs / 1e3
    layers("spark.shuffle_bytes") = w.shuffleWriteBytes
  }

  private def queryLayer(): Unit = {
    val q = tracer.workUnder(_.layer == "query")
    val nq = tracer.spans.count(_.layer == "query")
    layers("query.spark_jobs") = if (nq == 0) 0.0 else q.jobs.toDouble / nq
    val ps = planStats.asScala.toSeq
    val n = math.max(1, ps.size)
    layers("query.files_read") = ps.map(_._1).sum.toDouble / n
    layers("query.bytes_read") = ps.map(_._2).sum.toDouble / n
    layers("query.rows_scanned_per_returned") =
      ps.map(_._3).sum.toDouble / math.max(1L, ps.map(_._4).sum)
  }
}

object Run {
  final case class Reference(norm: DataFrame, tables: Map[String, DataFrame],
      fingerprints: Map[String, (Long, BigDecimal)])

  /** Blocks indexed by each `backfill` pass. */
  val BackfillBlocks = 150
  /** Blocks in the warehouse `explorer` queries. */
  val ExplorerBlocks = 60
  /** Closed-loop explorer clients. */
  val Clients = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
