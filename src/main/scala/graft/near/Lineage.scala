package graft.near

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Receipt → parent transaction lineage (SURVEY §2.4 /
  * receipts.rs:159-482), re-expressed as a deterministic iterative
  * propagation join instead of the reference's LRU-cache + DB-retry
  * loop.
  *
  * The lineage graph has three node kinds — receipt ids, data ids, and
  * transactions (roots):
  *
  *  seeds  = transactions: converted_into_receipt_id → tx_hash
  *           (∪, in streaming, the resolved map carried over from
  *           earlier microbatches — the principled form of the
  *           reference's 100k LRU cache, receipts_cache.rs:4-16)
  *  edges  = execution_outcome_receipts: produced ← executed
  *         ∪ output_data_receivers: data_id ← declaring receipt
  *           (the DataId cache path, receipts.rs:107-132)
  *         ∪ data receipts: receipt ← its data_id
  *
  * Then resolved_{n+1} = resolved ∪ step(edges ⋈ resolved) until
  * fixpoint. The iteration count is bounded by the receipt DAG depth
  * within the batch; each round localCheckpoints to truncate the
  * lineage of the growing plan. In streaming, unresolved rows carry
  * over to the next microbatch (that IS the reference's retry loop,
  * made deterministic).
  */
object Lineage {

  /** Edge set (child ← parent) from the per-batch tables. */
  def edges(outcomeReceipts: DataFrame, outputData: DataFrame,
      dataReceipts: DataFrame): DataFrame = {
    val produceEdges = outcomeReceipts.select(
      col("produced_receipt_id").as("child"),
      col("executed_receipt_id").as("parent"))
    val dataDeclEdges = outputData.select(
      col("output_data_id").as("child"),
      col("output_from_receipt_id").as("parent"))
    val dataRcptEdges = dataReceipts.select(
      col("receipt_id").as("child"),
      col("data_id").as("parent"))
    produceEdges.unionByName(dataDeclEdges).unionByName(dataRcptEdges)
  }

  /** Seed map (child → tx) from this batch's transactions. */
  def seeds(transactions: DataFrame): DataFrame =
    transactions.select(
      col("converted_into_receipt_id").as("child"),
      col("transaction_hash").as("tx"))

  /** Edge-count gate below which [[resolveGraph]] runs the fixpoint on
    * the driver: the graph is PER-BATCH (bounded by blocks per
    * microbatch, never corpus-sized), and each distributed round costs
    * two checkpoints + a join + an emptiness probe of fixed scheduling
    * overhead that dwarfs the work on ordinary batches. At the limit
    * the collect is ~1M short-string edges (tens of MB — an ordinary
    * broadcast's budget); an adversarially large batch falls through
    * to the distributed loop unchanged.
    */
  private[near] val LocalEdgeLimit: Long = 1L << 20

  /** Fixpoint propagation over an explicit (seeds, edges) graph.
    * Returns every reachable node: receipt ids AND data ids → tx.
    */
  def resolveGraph(seedMap: DataFrame, edgeSet: DataFrame,
      maxIter: Int = 50, localEdgeLimit: Long = LocalEdgeLimit): DataFrame = {
    // Probe AND fetch in ONE job per side: `limit(n+1).collect()`
    // either returns every row (≤ n — the rows the driver path needs
    // anyway, so no second plan/execution of the edge pipeline; the
    // former count-then-collect pair planned edgeSet twice per batch)
    // or proves the graph is over-gate with a bounded ≤(n+1)-row
    // fetch. The SEED side is gated too (r20 ADVICE: a batch with few
    // edges but a pathologically large seed set must not collect).
    val cap = math.min(localEdgeLimit + 1, Int.MaxValue.toLong).toInt
    val localEdges = edgeSet.select(col("child"), col("parent")).limit(cap).collect()
    val localSeeds =
      if (localEdges.length > localEdgeLimit) null
      else seedMap.select(col("child"), col("tx")).limit(cap).collect()
    if (localSeeds != null && localSeeds.length <= localEdgeLimit) {
      // Driver BFS, level-capped at maxIter exactly like the
      // distributed rounds (a node deeper than maxIter stays
      // unresolved on BOTH paths). Seed dedup is first-wins in collect
      // order — the model guarantees one tx per child, so this matches
      // dropDuplicates' any-wins on every input that can occur.
      val spark = seedMap.sparkSession
      val resolved = new java.util.LinkedHashMap[String, String]()
      localSeeds.foreach { r =>
        if (!resolved.containsKey(r.getString(0)))
          resolved.put(r.getString(0), r.getString(1))
      }
      // A null parent can never equi-join a resolved child (null
      // never matches), so such edges are dead on both paths; a null
      // CHILD rides through like any key, as it would in the join.
      val children = new java.util.HashMap[String, java.util.ArrayList[String]]()
      localEdges.foreach { r =>
        if (!r.isNullAt(1))
          children.computeIfAbsent(r.getString(1),
            _ => new java.util.ArrayList[String]()).add(r.getString(0))
      }
      var frontier: Seq[String] = {
        import scala.jdk.CollectionConverters._
        resolved.keySet().asScala.toSeq
      }
      var iter = 0
      while (frontier.nonEmpty && iter < maxIter) {
        val next = scala.collection.mutable.ArrayBuffer.empty[String]
        frontier.foreach { p =>
          val cs = children.get(p)
          if (cs != null) {
            val tx = resolved.get(p)
            val it = cs.iterator()
            while (it.hasNext) {
              val c = it.next()
              if (!resolved.containsKey(c)) { resolved.put(c, tx); next += c }
            }
          }
        }
        frontier = next.toSeq
        iter += 1
      }
      import spark.implicits._
      val rows = {
        import scala.jdk.CollectionConverters._
        resolved.entrySet().asScala.toSeq.map(e => (e.getKey, e.getValue))
      }
      return rows.toDF("child", "tx")
    }
    var resolved = seedMap.dropDuplicates("child").localCheckpoint(true)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val newly = edgeSet.alias("e")
        .join(resolved.alias("r"), col("e.parent") === col("r.child"))
        .select(col("e.child").as("child"), col("r.tx").as("tx"))
        .dropDuplicates("child")
        .join(resolved.select(col("child").as("rc")),
          col("child") === col("rc"), "left_anti")
        .localCheckpoint(true)
      if (newly.isEmpty) done = true
      else resolved = resolved.unionByName(newly).localCheckpoint(true)
      iter += 1
    }
    resolved
  }

  /** Whole-graph lineage over one set of tables, with no carried seeds:
    * (lineage_receipt_id, originated_from_transaction_hash) for every
    * resolvable receipt. The indexer's DAG ([[Stream.dag]]) calls
    * [[resolveGraph]] itself, because it folds carried seeds and edges
    * in; this stays as the standalone entry over a table set.
    */
  def resolve(transactions: DataFrame, outcomeReceipts: DataFrame,
      outputData: DataFrame, dataReceipts: DataFrame,
      maxIter: Int = 50): DataFrame =
    resolveGraph(seeds(transactions),
      edges(outcomeReceipts, outputData, dataReceipts), maxIter)
      .select(col("child").as("lineage_receipt_id"),
        col("tx").as("originated_from_transaction_hash"))
}
