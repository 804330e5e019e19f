package perfbench

import graft.pipelines.ChainAbuse
import graft.sources.{PagedTable, RegistryPageFetcher}
import graft.streaming.{KeyedSink, LabelStream, ParquetDocStoreSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The label ingest as `LabelStream.startIngest` composes it: paged
  * source -> chainabuse parse/explode -> 12 h TTL dedup -> keyed sink in
  * `foreachBatch`. Only public entry points of the program are used. */
object Ingest {
  val StoreKeys = Seq("report_id")
  val StoreOrder = Seq("cursor")

  def fetcherClass: String =
    if (Trace.on) classOf[TracingPageFetcher].getName
    else classOf[RegistryPageFetcher].getName

  /** Page rows get their simulated fetch time from the page cursor. */
  def pages(df: DataFrame): DataFrame =
    df.withColumn("fetched_at", timestamp_seconds(col("cursor") + lit(Gen.Epoch0)))

  /** Deduplicated report rows: one per (report id, exact content) seen
    * inside the TTL. */
  def reportStream(spark: SparkSession, feed: String, maxPages: Option[Long]): DataFrame = {
    val (good, _) = ChainAbuse.parseResponses(
      pages(PagedTable.readStream(spark, feed, maxPages, Some(fetcherClass))))
    val reps = ChainAbuse.reports(good, passthrough = Seq("fetched_at"))
      .select(col("node.id").as("report_id"), col("cursor"), col("node"),
        col("fetched_at").as("ts"), xxhash64(col("node")).as("content"))
    LabelStream.dedupWithinWatermark(reps, "ts", "12 hours", Seq("report_id", "content"))
  }

  final class Store(val dir: java.io.File, feed: String) {
    val sink = new ParquetDocStoreSink(dir.getPath, StoreKeys, StoreOrder)
    val traced: Option[TracingSink] =
      if (Trace.on) Some(new TracingSink(sink, dir, feed)) else None
    def keyed: KeyedSink = traced.getOrElse(sink)
  }

  def start(spark: SparkSession, feed: String, store: Store, checkpoint: String,
            trigger: Trigger, maxPages: Option[Long]): StreamingQuery =
    reportStream(spark, feed, maxPages).writeStream
      .queryName(feed)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val rows = batch.select("report_id", "cursor", "node")
        if (Trace.on) {
          // traced: one extra evaluation of fetch + parse/explode +
          // dedup, timed on its own; the sink then gets the same
          // unpersisted rows as untraced, and the extra pass shows in
          // the tracing overhead
          val t0 = System.nanoTime()
          val n = Trace.span(s"$feed/b$batchId", 0L, "pipelines", "materialise")(_ => rows.count())
          Trace.count("pipelines.parse_ns", System.nanoTime() - t0)
          Trace.count("pipelines.reports_out", n)
        }
        store.keyed.upsert(rows, batchId)
      }
      .start()

  /** Checks of a finished ingest against the generator's model. */
  def checkStore(spark: SparkSession, store: Store, gen: PageGen): Seq[Check] = {
    val cur = store.sink.current(spark)
    val rows = cur.map(_.select(col("report_id"), col("cursor"), col("node.commentsCount"),
      col("node.scamCategory"), col("node.addresses.address")).collect()).getOrElse(Array.empty)
    var h = 0L
    rows.foreach { r =>
      h += RowDigest.hash(r.getString(0), r.getString(1), r.getLong(2).toInt, r.getString(3),
        r.getSeq[String](4))
    }
    val (mn, mh) = gen.modelDigest
    Seq(Check("store_equals_model", rows.length == mn && h == mh,
      s"store rows=${rows.length} model rows=$mn digest_match=${h == mh}"))
  }

  /** Every page at positions [from, until) was read exactly once: the
    * source rows the progress events report add up to the range, and
    * the last committed offset is its end. */
  def checkCursors(log: ProgressLog, feed: String, from: Long, until: Long): Check = {
    val ev = log.all.filter(_.name == feed)
    val read = ev.map(_.inputRows).sum
    val end = ev.map(_.endOffset).maxOption.getOrElse(-1L)
    Check("cursors_exactly_once", read == until - from && end == until,
      s"pages=${until - from} read=$read last_offset=$end")
  }

  /** The DLQ side of the parse, re-run in batch over the whole feed;
    * returns the check and the DLQ page count. */
  def checkDlq(spark: SparkSession, feed: String, gen: PageGen): (Check, Long) = {
    val (_, dlq) = ChainAbuse.parseResponses(pages(PagedTable.read(spark, feed)))
    val n = dlq.count()
    (Check("dlq_equals_planted", n == gen.malformed, s"dlq=$n planted=${gen.malformed}"), n)
  }

}

final case class Check(name: String, ok: Boolean, detail: String)
