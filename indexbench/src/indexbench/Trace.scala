package indexbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one span: the jobs whose job group is the
  * span's id, and their stages and tasks.
  */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes
  }
}

final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, var endNs: Long = -1L)

/** Microbatch as reported by Structured Streaming progress events. */
final case class BatchProgress(triggerMs: Long, addBatchMs: Long)

/** In-memory span recorder. Each span runs its body under a Spark job
  * group named after the span id, so a [[SparkListener]] ties every
  * job (and its stages and tasks) to the innermost enclosing span.
  * A streaming query runs its microbatches under its own job group (the
  * query's run id), which [[alias]] maps to the span that started it;
  * those jobs also carry the microbatch id, which keys the per-batch
  * job counts. Until [[install]] (and after [[uninstall]]) `span` runs
  * the body and records nothing.
  */
final class Tracer {
  @volatile private var on = false
  private val nextId = new AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  val spans = mutable.ArrayBuffer[Span]()
  private val workByGroup = new ConcurrentHashMap[String, Work]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val aliases = new ConcurrentHashMap[String, Int]()
  /** Jobs per microbatch, keyed by query run id and batch id. */
  val jobsByBatch = new ConcurrentHashMap[String, AtomicInteger]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  private def work(group: String): Work =
    workByGroup.computeIfAbsent(group, _ => new Work)

  /** Innermost open span of this thread (0 at the root). */
  def current: Int = stack.get().headOption.getOrElse(0)

  /** Make `parent` the enclosing span of this thread's next spans
    * (client threads of a load phase).
    */
  def adopt(parent: Int): Unit = stack.set(List(parent))

  /** Streaming queries set their own job group (the query's run id);
    * attribute that group's work to `spanId`.
    */
  def alias(group: String, spanId: Int): Unit =
    if (on) { aliases.put(group, spanId); () }

  def span[A](spark: SparkSession, layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      val s = Span(id, parents.headOption.getOrElse(0), layer, name, System.nanoTime())
      spans.synchronized(spans += s)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(id.toString, s"$layer:$name")
      stack.set(id :: parents)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(parents)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      }
    }

  private def selfWork(id: Int): Work = {
    val w = new Work
    Option(workByGroup.get(id.toString)).foreach(x => x.synchronized(w.add(x)))
    aliases.asScala.foreach { case (g, s) =>
      if (s == id) Option(workByGroup.get(g)).foreach(x => x.synchronized(w.add(x)))
    }
    w
  }

  /** Work of the matching spans and all their descendants. */
  def workUnder(pred: Span => Boolean): Work = {
    val all = spans.synchronized(spans.toVector)
    val children = all.groupBy(_.parent)
    val total = new Work
    def visit(id: Int): Unit = {
      total.add(selfWork(id))
      children.getOrElse(id, Vector.empty).foreach(c => visit(c.id))
    }
    all.filter(pred).foreach(s => visit(s.id))
    total
  }

  def seconds(pred: Span => Boolean): Seq[Double] =
    spans.synchronized(spans.toVector).filter(pred)
      .map(s => (s.endNs - s.startNs) / 1e9)

  def install(spark: SparkSession): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(progress)
    on = true
  }

  def uninstall(spark: SparkSession): Unit = if (on) {
    on = false
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(progress)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobGroup.put(e.jobId, group)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val w = work(group)
      w.synchronized(w.jobs += 1)
      props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
        jobsByBatch.computeIfAbsent(s"$group/$b", _ => new AtomicInteger()).incrementAndGet()
      }
    }

    private def groupOfStage(stage: Int): String =
      Option(stageJob.get(stage)).flatMap(j => Option(jobGroup.get(j)))
        .getOrElse("")

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val w = work(groupOfStage(e.stageInfo.stageId))
      w.synchronized(w.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        val w = work(groupOfStage(e.stageId))
        w.synchronized {
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.schedDelayMs += delay
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val progress = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        batches.add(BatchProgress(ms("triggerExecution"), ms("addBatch")))
    }
  }

  /** Spans as JSON lines, written when the run ends. */
  def write(path: java.nio.file.Path): Unit = {
    val all = spans.synchronized(spans.toVector)
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.map { s =>
      val w = selfWork(s.id)
      Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9, "jobs" -> w.jobs,
        "stages" -> w.stages, "tasks" -> w.tasks, "run_ms" -> w.runMs)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productIterator.toSeq)
    case other => render(other.toString)
  }
  def obj(kv: (String, Any)*): String = render(kv.toMap)
}
