package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of chainabuse-shaped GraphQL response pages, plus
  * the independent model the benchmark checks the store against.
  *
  * Every well-formed page carries [[Gen.EdgesPerPage]] report edges (the
  * API's page maximum). An edge is one of four kinds, drawn by share:
  *  - a new report (fresh id);
  *  - an update: a Zipf-hot existing report gets version + 1;
  *  - an exact re-delivery of a Zipf-hot existing report's latest
  *    version (same JSON text), which the 12 h TTL dedup must drop;
  *  - a stale re-send of an older version of a Zipf-hot updated
  *    report, which the dedup must also drop: kept, its later cursor
  *    would win and roll the report back.
  * A planted share of pages is malformed and must land in the DLQ.
  * The shares are assumptions, not measured feed traffic (see the
  * benchmark's README).
  *
  * A report's content is a pure function of (id, version, seed), so the
  * model only keeps (id -> version, cursor) and re-derives labels on
  * demand.
  */
final case class GenParams(
    updateShare: Double,
    redeliverShare: Double,
    staleShare: Double,
    malformedEvery: Int,
    zipfS: Double,
    addrUniverse: Int) {
  def describe: Seq[(String, Any)] = Seq(
    "edges_per_page" -> Gen.EdgesPerPage, "update_share" -> updateShare,
    "redeliver_share" -> redeliverShare, "stale_share" -> staleShare,
    "malformed_every" -> malformedEvery,
    "zipf_s" -> zipfS, "addr_universe" -> addrUniverse)
}

/** One label row of a report, as `ChainAbuse.addressLabels` flattens it. */
final case class Label(addr: String, name: String, date: String, chain: String)

object Gen {
  val EdgesPerPage = 50
  val Categories: Array[String] = Array("PHISHING", "RANSOMWARE", "SEXTORTION",
    "PIGBUTCHERING", "RUGPULL", "IMPERSONATION", "FAKE_RETURNS", "DONATION",
    "ROMANCE", "OTHER")
  val Chains = Array("BTC", "ETH", "TRX", "SOL")
  val Words = Array("wallet", "sent", "funds", "scammer", "promised",
    "returns", "never", "received", "contacted", "telegram", "investment",
    "platform", "withdraw", "fee", "blocked", "support", "urgent", "victim")
  /** Simulated publish clock: page cursor c is fetched at Epoch0 + c s,
    * so a run's pages span minutes of event time, well inside the TTL. */
  val Epoch0 = 1700000000L

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Zipf-like rank in [0, n) by inverting a bounded power law:
    * rank 0 is the hottest. */
  def zipfRank(r: SplittableRandom, n: Int, s: Double): Int =
    if (n <= 1) 0
    else {
      val a = 1.0 - s
      val x = math.pow((math.pow(n.toDouble, a) - 1.0) * r.nextDouble() + 1.0, 1.0 / a)
      math.min(n - 1, math.max(0, x.toInt - 1))
    }

  def address(i: Int): String = f"addr$i%07d"
  /** The cursor of edge `i` of page `page`: zero-padded, so string
    * order is delivery order. */
  def edgeCursor(page: Long, i: Int): String = f"${page * 100 + i}%019d"
  def chainOf(i: Int): String = Chains(i & 3)
}

/** Report content as a function of (seed, id, version). */
final class Content(seed: Long, p: GenParams) {
  import Gen._

  private def rnd(id: Long, version: Int, salt: Int): SplittableRandom =
    new SplittableRandom(mix(seed * 31 + mix(id * 1009 + version * 17 + salt)))

  def reportId(id: Long): String = s"report-$id"

  /** Address indices of a version: the base set drawn at version 1
    * (hot addresses recur across reports), one more on some updates. */
  def addrIdx(id: Long, version: Int): Seq[Int] = {
    val r = rnd(id, 1, 1)
    val base = Seq.fill(1 + r.nextInt(3))(zipfRank(r, p.addrUniverse, p.zipfS))
    val extra = (2 to version).flatMap { v =>
      val rv = rnd(id, v, 2)
      if (rv.nextInt(3) == 0) Some(zipfRank(rv, p.addrUniverse, p.zipfS)) else None
    }
    (base ++ extra).distinct
  }

  def category(id: Long, version: Int): String = {
    val r = rnd(id, version / 3, 3) // re-categorised every third version
    Categories(zipfRank(r, Categories.length, 1.1))
  }

  def createdAt(id: Long): String = {
    val r = rnd(id, 1, 4)
    f"2023-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:00:00Z"
  }

  def labels(id: Long, version: Int): Seq[Label] = {
    val cat = category(id, version)
    val date = createdAt(id)
    addrIdx(id, version).map(a =>
      Label(address(a), cat, date, chainOf(a)))
  }

  /** The node JSON of (id, version): the exact text a re-delivery
    * repeats byte for byte. */
  def nodeJson(id: Long, version: Int): String = {
    val r = rnd(id, version, 5)
    val sb = new java.lang.StringBuilder(900)
    val rid = reportId(id)
    sb.append("{\"id\":\"").append(rid).append("\",\"isPrivate\":false,\"createdAt\":\"")
      .append(createdAt(id)).append("\",\"scamCategory\":\"").append(category(id, version))
      .append("\",\"categoryDescription\":null,\"biDirectionalVoteCount\":")
      .append(r.nextInt(50)).append(",\"viewerDidVote\":false,\"description\":\"")
    val nWords = 12 + r.nextInt(24)
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
      i += 1
    }
    sb.append("\",\"lexicalSerializedDescription\":null,\"commentsCount\":").append(version)
      .append(",\"source\":\"WEB\",\"checked\":").append(r.nextBoolean())
      .append(",\"accusedScammers\":[{\"id\":\"as-").append(id)
      .append("\",\"info\":{\"id\":\"i-").append(id)
      .append("\",\"contact\":\"@handle").append(r.nextInt(100000))
      .append("\",\"type\":\"TELEGRAM\"}}],\"reportedBy\":{\"id\":\"u-")
      .append(r.nextInt(20000)).append("\",\"username\":\"user")
      .append(r.nextInt(20000)).append("\",\"trusted\":false},\"addresses\":[")
    addrIdx(id, version).zipWithIndex.foreach { case (a, j) =>
      if (j > 0) sb.append(',')
      sb.append("{\"id\":\"ad-").append(id).append('-').append(a)
        .append("\",\"address\":\"").append(address(a)).append("\",\"chain\":\"")
        .append(chainOf(a)).append("\",\"domain\":null,\"label\":null}")
    }
    sb.append("],\"evidences\":[],\"compromiseIndicators\":[],\"tokens\":[],")
      .append("\"transactionHashes\":[{\"id\":\"tx-").append(id)
      .append("\",\"hash\":\"").append(java.lang.Long.toHexString(mix(id + version)))
      .append("\",\"chain\":\"BTC\",\"label\":null}]}")
    sb.toString
  }
}

/** A stateful stream of pages. `next` yields the next page's
  * (cursor, body) and folds what it published into the model, using the
  * documented semantics: a delivery whose exact content was already
  * delivered (a re-delivery or a stale re-send) is dropped, so the first
  * delivery of each version is the one retained; otherwise the latest
  * cursor per report id wins. Versions only grow, so the model is the
  * same for any micro-batch split. */
final class PageGen(seed: Long, p: GenParams) {
  import Gen._

  private val content = new Content(seed, p)
  private val r = new SplittableRandom(mix(seed ^ 0x5EEDL))
  private var nextCursor = 1L
  private var nextId = 0L
  private val ids = mutable.ArrayBuffer.empty[Long] // creation order
  private val updated = mutable.ArrayBuffer.empty[Long] // update order
  /** Model: id -> latest stored version, and the edge cursor of the
    * delivery that stored it. */
  val version = mutable.LongMap.empty[Int]
  val cursorOf = mutable.LongMap.empty[String]
  var malformed = 0L
  var kept = 0L

  /** Hot reports are the recent ones: rank 0 is the newest. */
  private def hot(xs: mutable.ArrayBuffer[Long]): Long =
    xs(xs.size - 1 - zipfRank(r, xs.size, p.zipfS))

  def next(): (Long, String) = {
    val cursor = nextCursor
    nextCursor += 1
    if (p.malformedEvery > 0 && cursor % p.malformedEvery == 0) {
      malformed += 1
      val body =
        if ((cursor / p.malformedEvery) % 2 == 0)
          """{"errors":[{"message":"Too many requests"}],"data":null}"""
        else """{"data":{"reports":{"edges":[{"cursor":"""" // truncated
      return (cursor, body)
    }
    val sb = new java.lang.StringBuilder(EdgesPerPage * 1000)
    sb.append("{\"data\":{\"reports\":{\"pageInfo\":{\"hasNextPage\":true,\"endCursor\":\"")
      .append(cursor).append("\"},\"edges\":[")
    var i = 0
    while (i < EdgesPerPage) {
      val u = r.nextDouble()
      val (id, v) =
        if (ids.isEmpty || u >= p.updateShare + p.redeliverShare + p.staleShare) {
          val id = nextId; nextId += 1; ids += id; (id, 1)
        } else if (u < p.updateShare) {
          val id = hot(ids)
          updated += id
          (id, version(id) + 1)
        } else if (u < p.updateShare + p.redeliverShare || updated.isEmpty) {
          val id = hot(ids)
          (id, version(id))
        } else {
          val id = hot(updated)
          (id, 1 + r.nextInt(version(id) - 1))
        }
      val edge = edgeCursor(cursor, i)
      if (v > version.getOrElse(id, 0)) { version(id) = v; cursorOf(id) = edge; kept += 1 }
      if (i > 0) sb.append(',')
      sb.append("{\"cursor\":\"")
        .append(edge)
        .append("\",\"node\":").append(content.nodeJson(id, v))
        .append(",\"__typename\":\"ReportEdge\"}")
      i += 1
    }
    sb.append("],\"count\":").append(EdgesPerPage).append(",\"totalCount\":")
      .append(nextId).append("}}}")
    (cursor, sb.toString)
  }

  def take(n: Int): Vector[(Long, String)] = Vector.fill(n)(next())

  /** Live reports in the model. */
  def liveIds: Iterator[(Long, Int)] = version.iterator

  /** All model labels, grouped by address. */
  def labelsByAddr: Map[String, Seq[Label]] =
    liveIds.flatMap { case (id, v) => content.labels(id, v) }.toSeq.groupBy(_.addr)

  /** Order-insensitive digest of the store: (report id, cursor,
    * version, category, sorted addresses) per live report. */
  def modelDigest: (Long, Long) = {
    var n = 0L
    var h = 0L
    liveIds.foreach { case (id, v) =>
      n += 1
      h += RowDigest.hash(content.reportId(id), cursorOf(id), v, content.category(id, v),
        content.addrIdx(id, v).map(Gen.address))
    }
    (n, h)
  }
}

object RowDigest {
  /** 64-bit hash of one store row's checked fields; a store digest is
    * the row count plus the wrapping sum of these. */
  def hash(reportId: String, cursor: String, version: Int, category: String,
           addrs: Seq[String]): Long = {
    val s = s"$reportId|$cursor|$version|$category|${addrs.sorted.mkString(",")}"
    var h = 1125899906842597L
    var i = 0
    while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
    Gen.mix(h)
  }
}
