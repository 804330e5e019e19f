package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{PageFetcher, RegistryPageFetcher}
import graft.streaming.KeyedSink
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span at a layer boundary. Spans of one trigger or op share
  * `trace` (the streaming batch id or the op's job group). */
final case class Span(trace: String, id: Long, parent: Long, layer: String,
                      name: String, startNs: Long, endNs: Long)

/** Process-wide trace state. Everything stays in memory until the run
  * writes it out; `on` is false in untraced runs, where every hook is a
  * single branch. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  def count(name: String, n: Long = 1): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(n)
  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum).getOrElse(0L)

  def newId(): Long = ids.incrementAndGet()

  private val baseNs = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  /** Map a wall-clock epoch time (progress timestamps) onto nanoTime. */
  def epochMsToNs(ms: Long): Long = baseNs + (ms - baseEpochMs) * 1000000L

  /** Drop the spans and counters of `layers`, e.g. those a warm-up
    * recorded before the timed window. */
  def reset(layers: Set[String]): Unit = {
    spans.removeIf(s => layers(s.layer))
    counters.keySet.removeIf(k => layers(k.takeWhile(_ != '.')))
  }

  /** Spans recorded without a parent get one from their trace: a fetch
    * runs inside the batch's materialisation when there is one, and
    * both it and the sink run inside the batch's trigger. */
  def linked: Vector[Span] = {
    val all = spans.asScala.toVector
    val byTrace = all.groupBy(_.trace)
    def find(trace: String, layer: String): Long =
      byTrace.getOrElse(trace, Vector.empty).find(_.layer == layer).map(_.id).getOrElse(0L)
    all.map {
      case s if s.parent != 0L => s
      case s if s.layer == "sources" =>
        val p = find(s.trace, "pipelines")
        s.copy(parent = if (p != 0L) p else find(s.trace, "streaming"))
      case s if s.layer == "pipelines" || s.layer == "sink" =>
        s.copy(parent = find(s.trace, "streaming"))
      case s => s
    }
  }

  def record(trace: String, parent: Long, layer: String, name: String,
             startNs: Long, endNs: Long, id: Long = newId()): Long = {
    if (on) spans.add(Span(trace, id, parent, layer, name, startNs, endNs))
    id
  }

  /** Run `f` as a span; the body gets the span's id for its children. */
  def span[T](trace: String, parent: Long, layer: String, name: String)(f: Long => T): T =
    if (!on) f(0L)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try f(id) finally record(trace, parent, layer, name, t0, System.nanoTime(), id)
    }

  /** Trace id of the streaming micro-batch a task runs for. */
  def taskTrace(feed: String): String =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
      .map(b => s"$feed/b$b").getOrElse(feed)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover. */
  def selfSeconds: Map[String, Double] = {
    val all = linked
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionNs(kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered).max(0L)
      }.sum / 1e9
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try linked.foreach { s =>
      w.write(Json.obj(Seq("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}

/** `sources` decorator, passed to the paged source by class name: it
  * delegates to [[RegistryPageFetcher]] and records poll and fetch spans. */
class TracingPageFetcher extends PageFetcher {
  private val inner = new RegistryPageFetcher

  override def latestAvailable(feed: String): Long = {
    val t0 = System.nanoTime()
    val n = inner.latestAvailable(feed)
    Trace.count("sources.poll_calls")
    Trace.count("sources.poll_ns", System.nanoTime() - t0)
    n
  }

  override def fetch(feed: String, from: Long, until: Long): Iterator[(Long, String)] = {
    val t0 = System.nanoTime()
    val pages = inner.fetch(feed, from, until).toVector
    val t1 = System.nanoTime()
    Trace.count("sources.fetch_calls")
    Trace.count("sources.pages_fetched", pages.size)
    Trace.count("sources.bytes_fetched", pages.iterator.map(_._2.length.toLong).sum)
    Trace.count("sources.fetch_ns", t1 - t0)
    Trace.record(Trace.taskTrace(feed), 0L, "sources", "fetch", t0, t1)
    pages.iterator
  }
}

/** `streaming` sink decorator: times each upsert and measures the
  * version directory it wrote. */
final class TracingSink(inner: KeyedSink, storeDir: java.io.File, feed: String)
  extends KeyedSink {
  val upsertMs = mutable.ArrayBuffer.empty[Double]
  var bytesWritten = 0L

  override def upsert(batch: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    inner.upsert(batch, batchId)
    val t1 = System.nanoTime()
    Trace.record(s"$feed/b$batchId", 0L, "sink", "upsert", t0, t1)
    synchronized {
      upsertMs += (t1 - t0) / 1e6
      bytesWritten += Dirs.dirBytes(new java.io.File(storeDir, s"v=$batchId"))
    }
  }
  override def alreadyApplied(batchId: Long): Boolean = inner.alreadyApplied(batchId)
}

/** One progress event of the ingest stream (`name` is the feed). */
final case class Progress(name: String, batchId: Long, inputRows: Long, endOffset: Long,
                          durations: Map[String, Long], stateRows: Long, stateMem: Long,
                          stateCommitMs: Long, dedupKept: Long, dedupDropped: Long)

/** Progress of the ingest stream. Always attached: trigger latencies and
  * the lost-or-duplicated-cursor check read it in untraced runs too. */
final class ProgressLog extends StreamingQueryListener {
  val events = new java.util.concurrent.CopyOnWriteArrayList[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators.toSeq
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
    val name = Option(p.name).getOrElse("")
    val startNs = Trace.epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val execMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0)
      Trace.record(s"$name/b${p.batchId}", 0L, "streaming", "trigger", startNs,
        startNs + execMs * 1000000L)
    events.add(Progress(name, p.batchId, p.numInputRows, end,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.commitTimeMs).sum, st.map(_.numRowsUpdated).sum,
      st.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.longValue).getOrElse(0L)).sum))
  }

  def all: Seq[Progress] = events.asScala.toSeq
  /** Progress events that processed data (idle polls excluded). */
  def batches: Seq[Progress] = all.filter(_.inputRows > 0)
}

/** `engine` and `plans` listeners, attached only in traced runs. Task
  * metrics are summed per workload; tasks of jobs submitted under a
  * lookup op's job group ("op-<n>") are also summed apart. */
final class EngineLog extends SparkListener {
  val jobs, stages, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes,
      opJobs, opInputRecords, opInputBytes = new LongAdder
  private val opStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def reset(): Unit = {
    Seq(jobs, stages, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes,
      opJobs, opInputRecords, opInputBytes).foreach(_.reset())
    opStages.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (group.exists(_.startsWith("op-"))) {
      opJobs.increment()
      e.stageIds.foreach(opStages.add(_))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.add(m.inputMetrics.bytesRead)
      if (opStages.contains(e.stageId)) {
        opInputRecords.add(m.inputMetrics.recordsRead)
        opInputBytes.add(m.inputMetrics.bytesRead)
      }
    }
  }
}

/** Executed-plan walk (AQE final plans, query stages included). */
final class PlanLog extends QueryExecutionListener {
  val queries, exchanges, customNodes = new LongAdder

  def reset(): Unit = Seq(queries, exchanges, customNodes).foreach(_.reset())

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    queries.increment()
    walk(qe.executedPlan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case other =>
      if (other.isInstanceOf[Exchange]) exchanges.increment()
      if (other.getClass.getName.startsWith("graft.")) customNodes.increment()
      other.children.foreach(walk)
      other.subqueries.foreach(walk)
  }
}

object Dirs {
  def dirBytes(d: java.io.File): Long =
    if (!d.exists) 0L
    else if (d.isFile) d.length
    else Option(d.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
