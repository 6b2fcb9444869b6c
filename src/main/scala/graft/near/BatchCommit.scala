package graft.near

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic per-batch commit for the parquet warehouse: makes a batch —
  * its table appends AND its cross-batch state tables — all-or-nothing
  * across a mid-batch crash, closing the at-least-once window the
  * reference side-steps with Postgres
  * `ON CONFLICT` (`database/src/adapters/receipts.rs:484-498`; parquet
  * appends have no PK to conflict on).
  *
  * Layout under the warehouse dir:
  * {{{
  *   _state/CURRENT        committed state version N (text)
  *   _state/v<N>/<name>    one parquet dir per state table; absent = empty
  *   _state/MANIFEST       in-flight batch: {"version":N+1,"files":[dst…]}
  *   _staging/<table>/     the batch's table output, pre-move
  * }}}
  *
  * Protocol per batch ([[commit]], the one entry every writer uses —
  * [[Stream.processBatch]] and the runbook's repair backfill): write
  * next states to `v(N+1)` (invisible — the pointer still says N) and
  * carry every other committed state there → stage table output →
  * write MANIFEST (the exact target file list) → move staged files
  * into the live tables → advance CURRENT to N+1 (the commit point) →
  * delete MANIFEST / staging / `v(N)`. The state writes and stagings of
  * one batch run together ([[stageBatch]]), and every one of them has
  * completed — succeeded, failed or been cancelled — before the
  * MANIFEST is written or the batch fails: no write is still running
  * into `_staging` or `v(N+1)` when [[recover]] sweeps them.
  *
  * The commit owns the state carry: a state table committed at `v(N)`
  * that the batch does not write is copied to `v(N+1)` unchanged, so
  * no writer lists the states it leaves alone. The carry is decided by
  * the names the batch passed, not by which `v(N+1)` dirs exist: a
  * passed state that came out empty leaves no dir (absence is the
  * empty state), and must not bring the old version's rows back.
  *
  * [[recover]] runs at batch start and rolls an
  * interrupted batch back (deletes the manifest's target files — moves
  * are the only live-table mutation, so deleting them restores the
  * pre-batch warehouse exactly) or forward (pointer already advanced:
  * only cleanup remains). Every step is idempotent, so a crash during
  * recovery itself re-recovers.
  *
  * PRECONDITIONS (the protocol is sound only under both):
  *
  *  - '''Atomic rename.''' Every transition rides on `FileSystem
  *    .rename` being atomic (HDFS, local file://, and other
  *    HDFS-semantics stores). On object stores (s3/s3a/gs/abfs/…)
  *    "rename" is copy+delete: a crash mid-copy can leave the dst file
  *    that a manifest rollback later deletes WHILE the src survives —
  *    silently voiding exactly-once. [[recover]] therefore FAILS FAST
  *    when the warehouse URI scheme is a known non-atomic store; use
  *    an HDFS-compatible filesystem, or front the object store with a
  *    table format that owns its own commit protocol.
  *  - '''Single writer.''' One stream (one driver) owns a warehouse
  *    dir: MANIFEST/CURRENT are per-warehouse singletons and two
  *    concurrent writers would roll back each other's in-flight
  *    batches. Spark's streaming checkpoint lock already enforces this
  *    for the intended one-stream-per-warehouse deployment.
  *
  * Scale note: the manifest lists only THIS batch's files — recovery
  * cost is O(batch), never O(warehouse). Renames are metadata-only on
  * HDFS-like stores.
  */
object BatchCommit {

  val StateDir = "_state"
  val StagingDir = "_staging"

  /** URI schemes whose `rename` is copy+delete (non-atomic): the
    * protocol's guarantee does not hold there — refuse loudly instead
    * of corrupting silently.
    */
  private val NonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "gcs", "oss", "cos", "swift",
    "wasb", "wasbs", "abfs", "abfss")

  private def requireAtomicRename(warehouseDir: String): Unit = {
    val scheme = Option(new Path(warehouseDir).toUri.getScheme)
      .map(_.toLowerCase).getOrElse("file")
    if (NonAtomicRenameSchemes.contains(scheme))
      throw new IllegalArgumentException(
        s"BatchCommit requires atomic rename; '$scheme://' is a " +
          "copy+delete object store where a mid-rename crash voids the " +
          "exactly-once guarantee. Point the warehouse at an " +
          "HDFS-compatible filesystem.")
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def statePath(warehouseDir: String, version: Long, name: String): String =
    s"$warehouseDir/$StateDir/v$version/$name"

  private def currentPath(wh: String) = new Path(s"$wh/$StateDir/CURRENT")
  private def nextPath(wh: String) = new Path(s"$wh/$StateDir/CURRENT_next")
  private def manifestPath(wh: String) = new Path(s"$wh/$StateDir/MANIFEST")

  private def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Hadoop rename reports many failures (dst exists, src missing,
    * transient store errors) by returning FALSE, not throwing. Every
    * rename in this protocol is load-bearing — a silent failure would
    * corrupt the exactly-once guarantee — so a false return fails the
    * batch loudly; the replay then recovers.
    */
  private def renameOrThrow(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"batch commit: rename $src -> $dst " +
        "failed (filesystem returned false)")

  /** Create-then-rename so the file appears atomically. */
  private def writeSmallAtomic(f: FileSystem, p: Path, body: String): Unit = {
    val tmp = new Path(p.toString + "_tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    f.delete(p, false)
    renameOrThrow(f, tmp, p)
  }

  /** Committed state version (0 = fresh warehouse). Repairs a pointer
    * advance that crashed between deleting CURRENT and renaming
    * CURRENT_next in.
    */
  def currentVersion(spark: SparkSession, warehouseDir: String): Long = {
    val f = fs(spark, warehouseDir)
    if (!f.exists(currentPath(warehouseDir)) &&
        f.exists(nextPath(warehouseDir)))
      renameOrThrow(f, nextPath(warehouseDir), currentPath(warehouseDir))
    if (!f.exists(currentPath(warehouseDir))) 0L
    else readSmall(f, currentPath(warehouseDir)).trim.toLong
  }

  /** Roll an interrupted batch back or forward; returns the committed
    * version the new batch must read its state from. Idempotent.
    */
  def recover(spark: SparkSession, warehouseDir: String): Long = {
    requireAtomicRename(warehouseDir)
    val f = fs(spark, warehouseDir)
    val v = currentVersion(spark, warehouseDir)
    val mp = manifestPath(warehouseDir)
    if (f.exists(mp)) {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readSmall(f, mp))
      val mv = root.get("version").asLong()
      if (mv > v) {
        // Crash before the commit point: the batch never happened.
        // Deleting the listed target files restores the live tables;
        // the uncommitted v(mv) state dir goes with them.
        val it = root.get("files").elements()
        while (it.hasNext) f.delete(new Path(it.next().asText()), false)
        f.delete(new Path(s"$warehouseDir/$StateDir/v$mv"), true)
      }
      // mv <= v: crash after the commit point — files and state are
      // live and correct; only the cleanup below remained.
      f.delete(mp, false)
    }
    // Debris sweep (idempotent): staging from any interrupted batch,
    // and state versions other than the committed one — newer ones are
    // uncommitted leftovers (a crash before the manifest was written),
    // older ones already-superseded cleanup stragglers.
    f.delete(new Path(s"$warehouseDir/$StagingDir"), true)
    val sd = new Path(s"$warehouseDir/$StateDir")
    if (f.exists(sd)) f.listStatus(sd).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          n.drop(1).toLong != v)
        f.delete(st.getPath, true)
    }
    v
  }

  /** Parquet data files under `dir` (recursively), with their footer
    * row counts. Spark writes a zero-row file (the schema carrier) for
    * an empty unpartitioned output and for an empty first task, so a
    * write's emptiness is read here instead of probed before it.
    */
  private def dataFiles(f: FileSystem, dir: Path): Seq[(Path, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Path, Long)]()
    if (f.exists(dir)) {
      val it = f.listFiles(dir, true)
      while (it.hasNext) {
        val p = it.next().getPath
        if (!p.getName.startsWith("_") && !p.getName.startsWith("."))
          out += ((p, rowCount(f, p)))
      }
    }
    out.toSeq
  }

  private def rowCount(f: FileSystem, p: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, f.getConf))
    try r.getRecordCount finally r.close()
  }

  /** The state-table dirs committed at `version`. */
  private def stateDirs(f: FileSystem, warehouseDir: String,
      version: Long): Seq[Path] = {
    val dir = new Path(s"$warehouseDir/$StateDir/v$version")
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath)
  }

  /** Every state table committed at `version`, by name (absent =
    * empty).
    */
  def readState(spark: SparkSession, warehouseDir: String,
      version: Long): Map[String, DataFrame] =
    stateDirs(fs(spark, warehouseDir), warehouseDir, version).flatMap { p =>
      // An all-empty write leaves a schema-less dir; treat as absent.
      scala.util.Try(spark.read.parquet(p.toString)).toOption
        .map(p.getName -> _)
    }.toMap

  /** Commit one batch, all or nothing: `states` become the next
    * version's state tables, every other state committed at
    * `committed` (the version [[recover]] returned) is carried to it
    * file for file, and `tables` are appended to the live tables —
    * those in [[Stream.TimePartitioned]] partitioned by the UTC day of
    * their timestamp. `onMoved` runs after the moves and before the
    * commit point, with each table that added rows (the JDBC mirror's
    * dual write, idempotent under replay). `hook` is the crash-injection
    * seam, called with "staged", "manifest", "moved" and "committed".
    */
  def commit(spark: SparkSession, warehouseDir: String, committed: Long,
      states: Seq[(String, DataFrame)], tables: Seq[(String, DataFrame)],
      hook: String => Unit = _ => (),
      onMoved: Seq[(String, DataFrame)] => Unit = _ => ()): Unit = {
    val f = fs(spark, warehouseDir)
    val next = committed + 1
    stateDirs(f, warehouseDir, committed)
      .filterNot(p => states.exists(_._1 == p.getName)).foreach { p =>
        val dst = new Path(statePath(warehouseDir, next, p.getName))
        if (!org.apache.hadoop.fs.FileUtil.copy(f, p, f, dst, false, f.getConf))
          throw new java.io.IOException(s"batch commit: carry $p -> $dst failed")
      }
    val staged = stageBatch(spark, warehouseDir, next, states,
      tables.map { case (name, df) =>
        Stream.TimePartitioned.get(name) match {
          case Some(ts) => (name,
            df.withColumn("block_date", Stream.dayCol(ts)), Some("block_date"))
          case None => (name, df, None)
        }
      })
    val moves = staged.flatMap(_._2)
    hook("staged")
    writeManifest(spark, warehouseDir, next, moves.map(_._2))
    hook("manifest")
    moves.foreach { case (src, dst) =>
      val d = new Path(dst)
      f.mkdirs(d.getParent)
      renameOrThrow(f, new Path(src), d)
    }
    hook("moved")
    onMoved(tables.zip(staged).collect { case (t, (_, m)) if m.nonEmpty => t })
    // THE commit point: after this, recovery rolls forward.
    writeSmallAtomic(f, nextPath(warehouseDir), next.toString)
    f.delete(currentPath(warehouseDir), false)
    renameOrThrow(f, nextPath(warehouseDir), currentPath(warehouseDir))
    hook("committed")
    f.delete(manifestPath(warehouseDir), false)
    f.delete(new Path(s"$warehouseDir/$StagingDir"), true)
    f.delete(new Path(s"$warehouseDir/$StateDir/v$committed"), true)
  }

  /** Write one state table for the in-flight version. Zero-row files
    * are deleted after the write, and so is the whole output when no
    * row was written — absence IS the empty state, so a reader never
    * meets a schema-less or all-empty state dir.
    */
  private def writeState(spark: SparkSession, warehouseDir: String, version: Long,
      name: String, df: DataFrame): Unit = {
    val out = new Path(statePath(warehouseDir, version, name))
    df.write.mode("overwrite").parquet(out.toString)
    val f = fs(spark, warehouseDir)
    val (empty, rows) = dataFiles(f, out).partition(_._2 == 0L)
    if (rows.isEmpty) f.delete(out, true)
    else empty.foreach { case (p, _) => f.delete(p, false) }
  }

  /** Stage a table's batch output and return (src, dst) moves into the
    * live table dir. Zero-row files are left out of the moves (they
    * stay in staging, which cleanup deletes), so an empty output adds
    * no live file. Staged file names carry fresh write-UUIDs, so dst
    * paths never collide with existing live files.
    */
  private def stageTable(spark: SparkSession, warehouseDir: String, table: String,
      df: DataFrame, partitionCol: Option[String]): Seq[(String, String)] = {
    val staging = s"$warehouseDir/$StagingDir/$table"
    val w = partitionCol match {
      case Some(c) => df.write.partitionBy(c)
      case None    => df.write
    }
    w.mode("overwrite").parquet(staging)
    val base = new Path(staging).toUri.getPath
    dataFiles(fs(spark, warehouseDir), new Path(staging)).collect {
      case (p, rows) if rows > 0L =>
        val rel = p.toUri.getPath.stripPrefix(base).stripPrefix("/")
        (p.toUri.getPath, s"$warehouseDir/$table/$rel")
    }
  }

  /** Write a batch's next-version states and stage its tables, all at
    * once on a pool made for this call and sized by the cluster's
    * default parallelism: one small batch leaves most cores idle
    * through any one write. Returns each table's moves, in the order
    * given (empty for a table that produced no rows).
    *
    * The pool's threads are started here, by the calling thread, so
    * they inherit its Spark local properties — the streaming query's
    * job group and batch id; a pool kept across batches would carry a
    * previous batch's. When a write fails the writes not yet started
    * are cancelled and the running ones awaited before the first
    * failure is rethrown, so no write outlives this call.
    */
  private def stageBatch(spark: SparkSession, warehouseDir: String, version: Long,
      states: Seq[(String, DataFrame)],
      tables: Seq[(String, DataFrame, Option[String])])
      : Seq[(String, Seq[(String, String)])] = {
    import java.util.concurrent._
    val writes: Seq[() => Seq[(String, String)]] =
      states.map { case (name, df) => () =>
        writeState(spark, warehouseDir, version, name, df); Seq.empty
      } ++ tables.map { case (name, df, part) => () =>
        stageTable(spark, warehouseDir, name, df, part)
      }
    val n = math.max(1, math.min(writes.size,
      spark.sparkContext.defaultParallelism))
    val pool = new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "batch-commit-write")
        t.setDaemon(true)
        t
      })
    pool.prestartAllCoreThreads()
    val done = new ExecutorCompletionService[Seq[(String, String)]](pool)
    val futures = writes.map(w => done.submit(() => w()))
    try {
      futures.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      tables.map(_._1).zip(futures.drop(states.size).map(_.get()))
    } finally {
      futures.foreach(_.cancel(false))
      pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(1, TimeUnit.MINUTES)
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  private[graft] def writeManifest(spark: SparkSession, warehouseDir: String,
      version: Long, files: Seq[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("version", version)
    val arr = root.putArray("files")
    files.foreach(arr.add)
    writeSmallAtomic(fs(spark, warehouseDir), manifestPath(warehouseDir),
      m.writeValueAsString(root))
  }
}
