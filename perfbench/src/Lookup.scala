package perfbench

import graft.pipelines.ChainAbuse
import graft.streaming.ParquetDocStoreSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The read side of the label store: every op resolves the current
  * store through the sink, flattens it with `ChainAbuse.addressLabels`
  * and filters or aggregates. Each op runs under its own job group so
  * the engine listener can attribute its jobs and input. */
final class Lookup(spark: SparkSession, sink: ParquetDocStoreSink, gen: PageGen) {
  private lazy val byAddr: Map[String, Seq[Label]] = gen.labelsByAddr
  private lazy val byCategory: Map[String, Set[String]] =
    byAddr.values.flatten.groupBy(_.name).map { case (k, ls) => k -> ls.map(_.addr).toSet }
  private lazy val monthly: Map[(String, String), Long] =
    byAddr.values.flatten.groupBy(l => (l.date.take(7), l.name))
      .map { case (k, ls) => k -> ls.size.toLong }

  var ops = 0L
  val resolveMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  var resultRows = 0L

  /** Run one op and check it against the model; true when it matched. */
  def run[T](kind: String)(q: DataFrame => T)(expect: T => Boolean): Boolean = {
    ops += 1
    val trace = s"op-$ops"
    spark.sparkContext.setJobGroup(trace, kind, interruptOnCancel = false)
    try Trace.span(trace, 0L, "loadgen", kind) { root =>
      val t0 = System.nanoTime()
      val store = Trace.span(trace, root, "operators", "store_resolve")(_ => sink.current(spark))
      resolveMs += (System.nanoTime() - t0) / 1e6
      store.exists { s =>
        val out = Trace.span(trace, root, "operators", "query")(_ =>
          q(ChainAbuse.addressLabels(s)))
        expect(out)
      }
    } finally spark.sparkContext.clearJobGroup()
  }

  def point(addr: String): Boolean =
    run("point") { labels =>
      labels.filter(col("addr") === addr).select("name", "date", "type").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    } { got =>
      resultRows += got.size
      got.sorted == byAddr.getOrElse(addr, Nil).map(l => (l.name, l.date, l.chain)).sorted
    }

  def reverse(category: String): Boolean =
    run("reverse") { labels =>
      labels.filter(col("name") === category).select("addr").distinct().collect()
        .map(_.getString(0)).toSet
    } { got =>
      resultRows += got.size
      got == byCategory.getOrElse(category, Set.empty)
    }

  def stats(): Boolean =
    run("stats") { labels =>
      labels.groupBy(substring(col("date"), 1, 7).as("month"), col("name")).count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    } { got =>
      resultRows += got.size
      got == monthly
    }
}
