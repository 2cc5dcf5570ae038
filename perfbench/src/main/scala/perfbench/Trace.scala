package perfbench

import graft.routing.{RoutePoint, Router, RoutingFailure, Snapper}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** Routing-layer counters. Accumulators merge back as each task ends,
  * so they are complete once the job's action returns.
  */
final class RoutingCounters(sc: SparkContext) extends Serializable {
  val calls: LongAccumulator = sc.longAccumulator("routing.table_calls")
  val failed: LongAccumulator = sc.longAccumulator("routing.failed_calls")
  val pairs: LongAccumulator = sc.longAccumulator("routing.pairs_requested")
  val okPairs: LongAccumulator = sc.longAccumulator("routing.pairs_ok")
  val busyNs: LongAccumulator = sc.longAccumulator("routing.busy_ns")
  val snapNs: LongAccumulator = sc.longAccumulator("routing.snap_busy_ns")

  def metrics: Map[String, Double] = Map(
    "routing.table_calls" -> calls.value.toDouble,
    "routing.failed_calls" -> failed.value.toDouble,
    "routing.pairs_requested" -> pairs.value.toDouble,
    "routing.useful_ratio" -> okPairs.value.toDouble / math.max(1L, pairs.value),
    "routing.busy_s" -> busyNs.value / 1e9,
    "routing.snap_busy_s" -> snapNs.value / 1e9)
}

/** The benchmark's own `Router` around the one under test: times and
  * counts every `table` call the matrix operator makes.
  */
final class CountingRouter(inner: Router, c: RoutingCounters) extends Router {
  override def table(os: IndexedSeq[RoutePoint], ds: IndexedSeq[RoutePoint]): Array[Array[Double]] = {
    val t0 = System.nanoTime()
    val n = os.size.toLong * ds.size
    c.calls.add(1)
    c.pairs.add(n)
    try {
      val m = inner.table(os, ds)
      c.okPairs.add(n)
      m
    } catch {
      case e: RoutingFailure => c.failed.add(1); throw e
    } finally c.busyNs.add(System.nanoTime() - t0)
  }
}

final class CountingSnapper(inner: Snapper, c: RoutingCounters) extends Snapper {
  override def snap(batch: Seq[(Double, Double)]): Seq[Option[(Double, Double)]] = {
    val t0 = System.nanoTime()
    try inner.snap(batch) finally c.snapNs.add(System.nanoTime() - t0)
  }
}

/** One traced interval. Times are milliseconds since the run started. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double)

/** A `SparkListener` that keys every Spark job by the benchmark span that
  * launched it (the `perfbench.span` local property) and by the graft
  * call site in its stack, and sums task metrics per job. The bus is
  * asynchronous: call [[drain]] before reading.
  */
final class JobListener(t0EpochMs: Long) extends SparkListener {
  final class Job(val id: Int, val span: Long, val execId: Long, val callSite: String,
      val startMs: Double) {
    var endMs: Double = Double.NaN
    var cpuNs, gcMs, shuffleWrite, spill, outBytes, inBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** execution id → (start, end, written tree name or "", call site) */
  private val execs = mutable.HashMap.empty[Long, (Double, Double, String, String)]
  @volatile private var lastEventNs = System.nanoTime()

  private def rel(epochMs: Long): Double = (epochMs - t0EpochMs).toDouble
  private def touch(): Unit = lastEventNs = System.nanoTime()

  /** first `graft.` frame of a call stack, else the harness's own (a
    * lookup's `spark.sql` action has no engine frame)
    */
  private def graftFrame(details: String): String = {
    val frames = details.linesIterator.map(_.trim).toSeq
    frames.find(_.startsWith("graft.")).orElse(frames.find(_.startsWith("perfbench."))).getOrElse("")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val execId = prop("spark.sql.execution.id").fold(-1L)(_.toLong)
    // jobs an adaptive query submits from its own threads carry no graft
    // frame; they take the call site of the SQL execution they serve
    val site = e.stageInfos.headOption.map(s => graftFrame(s.details)).filter(_.nonEmpty)
      .orElse(execs.get(execId).map(_._4)).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, prop(Tracer.SpanKey).fold(-1L)(_.toLong), execId, site, rel(e.time))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach(_.endMs = rel(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
      j.inBytes += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    touch()
    e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execs(s.executionId) =
          (rel(s.time), Double.NaN, writtenTree(s.physicalPlanDescription), graftFrame(s.details))
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach { x => execs(s.executionId) = x.copy(_2 = rel(s.time)) }
      case _ =>
    }
  }

  /** last path segment of the tree a write execution inserts into: the
    * command's first argument in the (formatted) plan description
    */
  private def writtenTree(plan: String): String =
    """(?m)^\(\d+\) Execute InsertIntoHadoopFsRelationCommand$[\s\S]*?^Arguments: ([^,\s]+)""".r
      .findFirstMatchIn(plan).fold("")(_.group(1).stripSuffix("/").split('/').last)

  /** Wait until every started job and execution has ended and the bus
    * has been quiet for a moment.
    */
  def drain(timeoutMs: Long = 30000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def open = synchronized {
      jobs.values.exists(_.endMs.isNaN) || execs.values.exists(_._2.isNaN)
    }
    while ((open || System.nanoTime() - lastEventNs < 300000000L) && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def jobsOf(span: Long): Seq[Job] = synchronized(jobs.values.filter(_.span == span).toSeq)

  /** wall seconds of the write executions into `tree` launched by `span` */
  def writeSeconds(span: Long, tree: String): Double = synchronized {
    jobsOf(span).map(_.execId).distinct.flatMap(execs.get)
      .filter(_._3 == tree).map(x => (x._2 - x._1) / 1000.0).sum
  }

  /** max / median task time of the span's largest stage (by task time) */
  def taskSkew(span: Long): Double = synchronized {
    val ids = jobsOf(span).map(_.id).toSet
    val stages = stageJob.collect { case (s, j) if ids(j) => s }.flatMap(s => stageTasks.get(s))
    if (stages.isEmpty) 1.0
    else {
      val ts = stages.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }
  }

  def spans(parent: Long, nextId: () => Long): Seq[Span] =
    jobsOf(parent).map(j => Span(nextId(), parent, s"spark_job ${j.id} ${j.callSite}", j.startMs, j.endMs))
}

/** Span bookkeeping for the traced run: spans are held in memory and
  * written out once, when the run ends.
  */
final class Tracer(sc: SparkContext, t0Ns: Long, t0EpochMs: Long) {
  val listener = new JobListener(t0EpochMs)
  sc.addSparkListener(listener)
  private var next = 0L
  private val done = mutable.ArrayBuffer.empty[Span]
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def newId(): Long = { next += 1; next }

  /** Run `body` as a span under `parent`; Spark jobs it launches carry
    * the span id.
    */
  def span[A](name: String, parent: Long)(body: Long => A): A = {
    val id = newId()
    val start = nowMs
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try body(id)
    finally {
      sc.setLocalProperty(Tracer.SpanKey, null)
      done += Span(id, parent, name, start, nowMs)
    }
  }

  def record(s: Span): Unit = done += s
  def spansSoFar: Seq[Span] = done.toSeq

  /** every span so far plus one per Spark job, as JSON lines */
  def write(path: java.nio.file.Path): Unit = {
    listener.drain()
    val all = done.toSeq ++ done.toSeq.flatMap(s => listener.spans(s.id, () => newId()))
    val lines = all.sortBy(_.startMs).map { s =>
      Main.json.writeValueAsString(scala.collection.immutable.ListMap("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
