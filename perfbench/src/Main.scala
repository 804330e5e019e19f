package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.PageFeed
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** What one workload measured. `opMs` are the latencies of the
  * workload's op (a trigger or a point lookup). */
final case class Result(
    params: Seq[(String, Any)],
    warmS: Double,
    prepS: Seq[Double],
    attempted: Long,
    failed: Long,
    checks: Seq[Check],
    opMs: Seq[Double],
    throughput: Double,
    storeBytesPerRow: Double,
    named: Seq[(String, Double, String, Int)], // name, value, unit, samples
    layers: Seq[(String, Double, String)])

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: File, record: File, launchEpochMs: Long, cpus: Int)

/** One measured run: a fresh JVM, one workload, one seed. Writes the
  * run record to `--record`; the wrapper script prints the result. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      new File(a("work")), new File(a("record")), a("launch-epoch-ms").toLong,
      a.getOrElse("cpus", "4").toInt)
    Trace.on = o.trace
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val launchS = (System.currentTimeMillis() - o.launchEpochMs) / 1000.0
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val (engine, plans) =
      if (!o.trace) (None, None)
      else {
        val e = new EngineLog
        val p = new PlanLog
        spark.sparkContext.addSparkListener(e)
        spark.listenerManager.register(p)
        (Some(e), Some(p))
      }
    val w = new Workloads(spark, o, progress, engine, plans)
    val res = o.workload match {
      case "ingest_backfill" => w.backfill()
      case "label_lookup" => w.lookup()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = Record.build(o, spark.version, launchS, res,
      (System.currentTimeMillis() - o.launchEpochMs) / 1000.0)
    java.nio.file.Files.writeString(o.record.toPath, record)
    if (o.trace)
      Trace.writeSpans(new File(o.record.getPath.stripSuffix(".json") + ".spans.jsonl").toPath)
    spark.stop()
  }
}

/** The workloads. Each returns what it measured plus its checks;
  * an op that throws or fails its check counts as failed. */
final class Workloads(spark: SparkSession, o: Opts, progress: ProgressLog,
                      engine: Option[EngineLog], plans: Option[PlanLog]) {
  private val ingestLayers = Set("sources", "pipelines", "streaming", "sink")
  private val WarmPages = 80
  private val WarmLookups = 20
  // assumed traffic shares, not measured ones: the README gives the
  // reason for each
  private val gp = GenParams(updateShare = 0.25, redeliverShare = 0.10, staleShare = 0.05,
    malformedEvery = 40, zipfS = 1.2, addrUniverse = 20000)
  private var dirs = 0
  private def dir(name: String): File = {
    dirs += 1
    val d = new File(o.work, s"$name-$dirs")
    d.mkdirs()
    d
  }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def startWindow(resetIngest: Boolean): Unit = {
    if (resetIngest) {
      Trace.reset(ingestLayers)
      progress.events.clear()
    }
    Trace.reset(Set("loadgen", "operators"))
    engine.foreach(_.reset())
    plans.foreach(_.reset())
  }

  /** Run an ingest of `pages` into a fresh store to completion. */
  private def ingestAll(feed: String, pages: Seq[(Long, String)],
                        maxPages: Long): (Ingest.Store, String) = {
    PageFeed.register(feed, pages)
    val store = new Ingest.Store(dir("store"), feed)
    val ckpt = dir("ckpt").getPath
    Ingest.start(spark, feed, store, ckpt, Trigger.AvailableNow(), Some(maxPages))
      .awaitTermination()
    (store, ckpt)
  }

  private def storeBytesPerRow(store: Ingest.Store, gen: PageGen): Double =
    Dirs.dirBytes(store.dir).toDouble / math.max(1, gen.version.size)

  /** A few point lookups on an ingested store, checked against the
    * model (outside the timed window). */
  private def spotLookups(store: Ingest.Store, gen: PageGen,
                          into: mutable.Buffer[Lookup]): Check = {
    val lk = new Lookup(spark, store.sink, gen)
    into += lk
    val addrs = (0 until 4).map(Gen.address) :+ "addr-missing"
    val bad = addrs.filterNot(lk.point)
    Check("spot_lookups_match_model", bad.isEmpty, s"mismatched=${bad.mkString(",")}")
  }

  // ---------------------------------------------------------------- backfill

  /** Closed loop, catch-up: rounds of a fresh backlog into an empty
    * store with AvailableNow and a per-trigger page cap. The round count
    * is fixed by `--seconds` (one round per 5 s), so every run does the
    * same work. Every round is checked after the timed window. */
  def backfill(): Result = {
    val pagesPerRound = 80
    val maxPages = 20L
    val windowRounds = math.max(1, o.seconds / 5)
    def roundGen(r: Int) = new PageGen(o.seed * 1000 + r, gp)
    // warm-up: triggers of the same size into a throwaway store, so JIT
    // compilation and code generation are paid in set-up, as a
    // long-running ingest pays them once
    val warmT0 = System.nanoTime()
    val warmFeed = s"warm-${o.seed}"
    val (warmStore, warmCkpt) = ingestAll(warmFeed, roundGen(-1).take(WarmPages), maxPages)
    PageFeed.remove(warmFeed)
    Dirs.deleteRecursively(warmStore.dir)
    Dirs.deleteRecursively(new File(warmCkpt))
    val warmS = secs(warmT0)
    // set-up is generating a round's backlog; rounds generate their own
    // between timed rounds, so these copies are discarded
    val prep = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      roundGen(0).take(pagesPerRound)
      secs(t0)
    }
    startWindow(resetIngest = true)
    final case class Round(gen: PageGen, feed: String, store: Ingest.Store, pageBytes: Long,
                           error: Option[String])
    val rounds = mutable.ArrayBuffer.empty[Round]
    var wall = 0.0
    var gapMax = 0.0
    var lastEnd = 0L
    val windowT0 = System.nanoTime()
    while (rounds.size < windowRounds) {
      val gen = roundGen(rounds.size)
      val feed = s"bf-${o.seed}-${rounds.size}"
      val pages = gen.take(pagesPerRound)
      PageFeed.register(feed, pages)
      val store = new Ingest.Store(dir("store"), feed)
      val ckpt = dir("ckpt").getPath
      val t0 = System.nanoTime()
      if (lastEnd != 0L) gapMax = math.max(gapMax, (t0 - lastEnd) / 1e6)
      val error =
        try {
          Ingest.start(spark, feed, store, ckpt, Trigger.AvailableNow(), Some(maxPages))
            .awaitTermination()
          None
        } catch { case t: Throwable => Some(t.toString) }
      lastEnd = System.nanoTime()
      wall += (lastEnd - t0) / 1e9
      rounds += Round(gen, feed, store, pages.iterator.map(_._2.length.toLong).sum, error)
    }
    val layers = windowLayers(secs(windowT0), gapMax, rounds.flatMap(_.store.traced).toSeq,
      rounds.map(_.pageBytes).sum, rounds.map(_.store.dir).toSeq)
    val trig = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[Check]
    var attempted, failed, kept, dlq = 0L
    val lookups = mutable.ArrayBuffer.empty[Lookup]
    rounds.zipWithIndex.foreach { case (r, i) =>
      val ev = progress.batches.filter(_.name == r.feed)
      ev.foreach(p => trig += p.durations.getOrElse("triggerExecution", 0L).toDouble)
      kept += r.gen.kept
      val rc = r.error.map(e => Seq(Check("round_ran", ok = false, e))).getOrElse {
        val (dc, n) = Ingest.checkDlq(spark, r.feed, r.gen)
        dlq += n
        Ingest.checkStore(spark, r.store, r.gen) ++ Seq(
          Ingest.checkCursors(progress, r.feed, 0L, pagesPerRound), dc) ++
          (if (i == 0) Seq(spotLookups(r.store, r.gen, lookups)) else Nil)
      }
      checks ++= rc
      attempted += math.max(1, ev.size)
      if (rc.exists(!_.ok)) failed += math.max(1, ev.size)
      PageFeed.remove(r.feed)
    }
    val bpr = Stats.median(rounds.map(r => storeBytesPerRow(r.store, r.gen)).toSeq)
    Result(
      params = Seq("pages_per_round" -> pagesPerRound, "max_pages_per_trigger" -> maxPages,
        "rounds" -> windowRounds, "warm_pages" -> WarmPages,
        "trigger" -> "AvailableNow", "loop" -> "closed, one stream") ++ gp.describe,
      warmS = warmS, prepS = prep, attempted = attempted, failed = failed, checks = checks.toSeq,
      opMs = trig.toSeq, throughput = kept / wall, storeBytesPerRow = bpr,
      named = ("ingest_rows_per_s", kept / wall, "1/s", rounds.size) +:
        latency("trigger", trig.toSeq),
      layers = layers ++ endLayers(dlq, rounds.size.toLong * pagesPerRound, lookups.toSeq,
        lookups.map(_.ops).sum))
  }

  // ------------------------------------------------------------------ lookup

  /** Closed loop, one client, read-only: point lookups by address
    * (Zipf-hot, with misses), reverse lookups by category and monthly
    * category stats against a store the same sink wrote in set-up. */
  def lookup(): Result = {
    val storeReports = 8000
    // a fixed cycle of ten ops (8 point, 1 reverse, 1 stats) keeps the mix
    // the same in every run; the seed draws the keys
    val cycle = "PPPPRPPPPS"
    val missShare = 0.1
    // a fixed op count, four per second of --seconds (about one client's
    // pace), so every run does the same work and allocates alike
    val totalOps = 4L * o.seconds
    val pages = storeReports / Gen.EdgesPerPage
    val feed = s"lk-${o.seed}"
    var gen: PageGen = null
    var store: Ingest.Store = null
    var storePageBytes = 0L
    val prep = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      if (store != null) Dirs.deleteRecursively(store.dir)
      PageFeed.remove(feed)
      // the ingest layers report the last set-up store build
      Trace.reset(ingestLayers)
      progress.events.clear()
      gen = new PageGen(o.seed, gp)
      val data = gen.take(pages)
      storePageBytes = data.iterator.map(_._2.length.toLong).sum
      store = ingestAll(feed, data, pages / 2L)._1
      secs(t0)
    }
    val (dc, dlq) = Ingest.checkDlq(spark, feed, gen)
    val checks = mutable.ArrayBuffer.empty[Check]
    checks ++= Ingest.checkStore(spark, store, gen) :+ dc
    PageFeed.remove(feed)
    /** Op `i` of the cycle; returns (was a point lookup, matched the model). */
    def op(lk: Lookup, r: SplittableRandom, i: Long): (Boolean, Boolean) = {
      val kind = cycle((i % cycle.length).toInt)
      val ok = try kind match {
        case 'P' =>
          val addr =
            if (r.nextDouble() < missShare) s"addr-miss-${r.nextInt(1000000)}"
            else Gen.address(Gen.zipfRank(r, gp.addrUniverse, gp.zipfS))
          lk.point(addr)
        case 'R' => lk.reverse(Gen.Categories(r.nextInt(Gen.Categories.length)))
        case _ => lk.stats()
      } catch { case _: Throwable => false }
      (kind == 'P', ok)
    }
    // warm-up: the same mix over another key stream, untimed and unchecked
    val warmT0 = System.nanoTime()
    val warmRnd = new SplittableRandom(Gen.mix(o.seed ^ 0x3A3AL))
    val warmLk = new Lookup(spark, store.sink, gen)
    (0 until WarmLookups).foreach(i => op(warmLk, warmRnd, i))
    val warmS = secs(warmT0)
    val lk = new Lookup(spark, store.sink, gen)
    val r = new SplittableRandom(Gen.mix(o.seed ^ 0x100CL))
    startWindow(resetIngest = false)
    val point, scan = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0L
    var gapMax = 0.0
    var lastEnd = 0L
    val t0 = System.nanoTime()
    while (attempted < totalOps) {
      val s = System.nanoTime()
      if (lastEnd != 0L) gapMax = math.max(gapMax, (s - lastEnd) / 1e6)
      val (isPoint, ok) = op(lk, r, attempted)
      lastEnd = System.nanoTime()
      val ms = (lastEnd - s) / 1e6
      if (isPoint) point += ms else scan += ms
      attempted += 1
      if (!ok) failed += 1
    }
    val wall = secs(t0)
    val layers = windowLayers(wall, gapMax, store.traced.toSeq, storePageBytes, Seq(store.dir))
    checks += Check("ops_match_model", failed == 0, s"failed_ops=$failed of $attempted")
    val bpr = storeBytesPerRow(store, gen)
    Result(
      params = Seq("store_reports" -> storeReports, "op_cycle" -> cycle, "ops" -> totalOps,
        "miss_share" -> missShare, "warm_ops" -> WarmLookups,
        "loop" -> "closed, one client") ++ gp.describe,
      warmS = warmS, prepS = prep, attempted = attempted, failed = failed, checks = checks.toSeq,
      opMs = point.toSeq, throughput = attempted / wall, storeBytesPerRow = bpr,
      named = latency("lookup", point.toSeq) ++ latency("scan", scan.toSeq),
      layers = layers ++ endLayers(dlq, pages, Seq(lk), lk.ops))
  }

  /** Median and, when the samples allow, the highest percentile with
    * at least ten samples beyond it. */
  private def latency(name: String, xs: Seq[Double]): Seq[(String, Double, String, Int)] = {
    val q = Stats.tailQ(xs.size)
    (s"${name}_p50_ms", Stats.median(xs), "ms", xs.size) +:
      (if (q > 0.5) Seq((f"${name}_p${math.round(q * 100)}%d_ms", Stats.pct(xs, q), "ms", xs.size))
       else Nil)
  }

  // ------------------------------------------------------------------ layers

  /** Ingest, loadgen, engine and plans metrics, taken when the timed
    * window ends (before any check runs). `sinks` are the traced sinks
    * the window wrote through, `incoming` the page bytes they received. */
  private def windowLayers(windowS: Double, lateMs: Double, sinks: Seq[TracingSink], incoming: Long,
                           storeDirs: Seq[File]): Seq[(String, Double, String)] = {
    if (!o.trace) return Nil
    Thread.sleep(200) // let the listener bus deliver the window's last events
    val b = progress.batches
    val trig = b.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    def perTrigger(f: Progress => Double) = if (b.isEmpty) 0.0 else b.map(f).sum / b.size
    def phase(k: String) = perTrigger(_.durations.getOrElse(k, 0L).toDouble)
    val kept = b.map(_.dedupKept).sum
    val dropped = b.map(_.dedupDropped).sum
    val upserts = sinks.flatMap(_.upsertMs)
    val written = sinks.map(_.bytesWritten).sum
    val versions = storeDirs.map(d => Option(d.list).getOrElse(Array.empty[String])
      .count(_.startsWith("v=")).toDouble)
    val e = engine.get
    val p = plans.get
    def c(n: String) = Trace.counter(n).toDouble
    Seq(
      ("sources.fetch_calls", c("sources.fetch_calls"), "count"),
      ("sources.pages_fetched", c("sources.pages_fetched"), "count"),
      ("sources.fetch_busy_s", c("sources.fetch_ns") / 1e9, "s"),
      ("sources.poll_calls", c("sources.poll_calls"), "count"),
      ("sources.poll_busy_s", c("sources.poll_ns") / 1e9, "s"),
      ("pipelines.parse_busy_s", c("pipelines.parse_ns") / 1e9, "s"),
      ("pipelines.reports_out", c("pipelines.reports_out"), "count"),
      ("streaming.triggers", b.size.toDouble, "count"),
      ("streaming.trigger_p50_ms", Stats.median(trig), "ms"),
      ("streaming.trigger_p90_ms", Stats.pct(trig, 0.9), "ms"),
      ("streaming.query_planning_ms", phase("queryPlanning"), "ms"),
      ("streaming.add_batch_ms", phase("addBatch"), "ms"),
      ("streaming.wal_commit_ms", phase("walCommit"), "ms"),
      ("streaming.dedup_keep_ratio",
        if (kept + dropped == 0) 0.0 else kept.toDouble / (kept + dropped), "ratio"),
      ("streaming.state_rows", b.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      ("streaming.state_mem_bytes", b.lastOption.map(_.stateMem.toDouble).getOrElse(0.0), "B"),
      ("streaming.state_commit_ms", perTrigger(_.stateCommitMs.toDouble), "ms"),
      ("streaming.sink_upsert_busy_s", upserts.sum / 1e3, "s"),
      ("streaming.sink_upsert_p90_ms", Stats.pct(upserts, 0.9), "ms"),
      ("streaming.sink_bytes_written", written.toDouble, "B"),
      ("streaming.sink_write_amp", if (incoming == 0) 0.0 else written.toDouble / incoming, "ratio"),
      ("streaming.sink_versions_on_disk", Stats.median(versions), "count"),
      ("loadgen.late_ms_max", lateMs, "ms"),
      ("engine.jobs", e.jobs.sum.toDouble, "count"),
      ("engine.stages", e.stages.sum.toDouble, "count"),
      ("engine.tasks", e.tasks.sum.toDouble, "count"),
      ("engine.executor_run_s", e.runMs.sum / 1e3, "s"),
      ("engine.gc_s", e.gcMs.sum / 1e3, "s"),
      ("engine.shuffle_read_bytes", e.shuffleRead.sum.toDouble, "B"),
      ("engine.shuffle_write_bytes", e.shuffleWrite.sum.toDouble, "B"),
      ("engine.spill_bytes", e.spill.sum.toDouble, "B"),
      ("engine.input_bytes", e.inputBytes.sum.toDouble, "B"),
      ("engine.busy_ratio", e.runMs.sum / 1e3 / (windowS * o.cpus), "ratio"),
      ("plans.queries", p.queries.sum.toDouble, "count"),
      ("plans.exchanges", p.exchanges.sum.toDouble, "count"),
      ("plans.custom_exec_nodes", p.customNodes.sum.toDouble, "count"))
  }

  /** Metrics known only after the run's checks: the DLQ share, the
    * lookup path (timed ops, or the spot lookups of an ingest run) and
    * per-layer self time from the spans. */
  private def endLayers(dlqPages: Long, pages: Long, lookups: Seq[Lookup],
                        ops: Long): Seq[(String, Double, String)] = {
    if (!o.trace) return Nil
    Thread.sleep(200)
    val e = engine.get
    val self = Trace.selfSeconds
    val results = lookups.map(_.resultRows).sum
    Seq(
      ("pipelines.dlq_ratio", if (pages == 0) 0.0 else dlqPages.toDouble / pages, "ratio"),
      ("operators.store_resolve_ms", Stats.median(lookups.flatMap(_.resolveMs)), "ms"),
      ("operators.lookup_rows_scanned_per_result",
        e.opInputRecords.sum.toDouble / math.max(1L, results), "ratio"),
      ("operators.lookup_input_bytes", e.opInputBytes.sum.toDouble / math.max(1L, ops), "B"),
      ("operators.jobs_per_op", e.opJobs.sum.toDouble / math.max(1L, ops), "count")) ++
      Seq("sources", "pipelines", "streaming", "operators").map(l =>
        (s"$l.self_s", self.getOrElse(l, 0.0), "s")) :+
      (("streaming.sink_self_s", self.getOrElse("sink", 0.0), "s"))
  }
}

/** The run record: everything measured, its checks and the metadata
  * a comparison needs to refuse unlike runs. */
object Record {
  /** Set-up time = JVM and session launch + the one-off warm-up + the
    * median of the workload's repeated data preparation. */
  def build(o: Opts, sparkVersion: String, launchS: Double, r: Result,
            totalS: Double): String = {
    val setupS = launchS + r.warmS + Stats.median(r.prepS)
    val correct = r.checks.forall(_.ok) && r.failed == 0
    val ops = r.opMs
    def m(v: Double, unit: String) = Seq("value" -> v, "unit" -> unit)
    Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> (if (o.trace) 1 else 0),
      "meta" -> Seq("master" -> s"local[${o.cpus}]", "cpus" -> o.cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors, "spark" -> sparkVersion,
        "jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString),
      "params" -> r.params,
      "correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "checks" -> r.checks.map(c => Seq("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "setup" -> Seq("launch_s" -> launchS, "warm_s" -> r.warmS, "prep_s" -> r.prepS,
        "run_total_s" -> totalS),
      "op_samples" -> ops.size,
      "op_ms" -> ops,
      "e2e" -> Seq(
        "setup_s" -> m(setupS, "s"),
        "op_p50_ms" -> m(Stats.median(ops), "ms"),
        "throughput_per_s" -> m(r.throughput, "1/s"),
        "store_bytes_per_row" -> m(r.storeBytesPerRow, "B"),
        "peak_rss_mb" -> m(Stats.peakRssMb, "MB")),
      "named" -> r.named.map { case (n, v, u, k) => n -> Seq("value" -> v, "unit" -> u,
        "samples" -> k) },
      "per_layer" -> r.layers.map { case (n, v, u) => n -> m(v, u) }))
  }
}
