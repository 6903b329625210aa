package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Pure functions of (params, seed): no Spark, no
  * clock, so the same seed always yields byte-identical inputs and the
  * program only ever sees the files written from them.
  *
  * Prices are multiples of 1/16 and vector components multiples of 1/1024,
  * so every number survives the text round trip (generator → JSON →
  * Spark float/double) exactly and the benchmark's models compare with ==.
  */
object Gen {

  /** 2024-01-02T10:00:00Z: the generated market clock starts here. */
  val BaseEpochS = 1704189600L

  def tickers(n: Int): IndexedSeq[String] = (0 until n).map(i => f"TK$i%03d")

  /** Zipf(s) over ranks 0..n-1 (rank 0 hottest), by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def tick(r: SplittableRandom, lo: Int, hi: Int): Double = (lo + r.nextInt(hi - lo)) / 16.0

  private val sparkTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** The bar id the ingest path assigns: sha256 of "ticker|datetime" with
    * the datetime rendered as Spark casts a timestamp to string (UTC).
    */
  def barId(ticker: String, epochS: Long): String = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s"$ticker|${sparkTs.format(Instant.ofEpochSecond(epochS))}".getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  final case class Bar(ticker: String, epochS: Long, open: Double, high: Double,
      low: Double, close: Double, volume: Int) {
    def json: String = barJson(ticker, epochS, open, high, low, close, volume)
    def id: String = barId(ticker, epochS)
  }

  def randomBar(r: SplittableRandom, ticker: String, epochS: Long): Bar = {
    val open = tick(r, 800, 2400)
    val high = open + tick(r, 0, 32)
    val low = open - tick(r, 0, 32)
    val close = low + r.nextInt(((high - low) * 16).toInt + 1) / 16.0
    Bar(ticker, epochS, open, high, low, close, 1 + r.nextInt(10000))
  }

  /** One yfinance-shaped wire payload; `ticker == null` writes a JSON null. */
  def barJson(ticker: String, epochS: Long, open: Double, high: Double,
      low: Double, close: Double, volume: Int): String = {
    val t = if (ticker == null) "null" else "\"" + ticker + "\""
    s"""{"Datetime":"${Instant.ofEpochSecond(epochS)}","Open":$open,"High":$high,"Low":$low,"Close":$close,"Adj Close":$close,"Volume":$volume,"Dividends":0.0,"Stock Splits":0.0,"ticker":$t}"""
  }

  def drifted(line: String): String = line.dropRight(1) + ",\"Source\":\"api\"}"
  def truncated(line: String): String = line.take(25)

  // ------------------------------------------------------------------
  // ingest: wire files for the open-loop landing directory
  // ------------------------------------------------------------------

  /** Rows expected in each lane of the end-to-end ingest sink. */
  final case class Lanes(quarantine: Long, dlq: Long, late: Long, dup: Long, ingested: Long) {
    def +(o: Lanes): Lanes = Lanes(quarantine + o.quarantine, dlq + o.dlq,
      late + o.late, dup + o.dup, ingested + o.ingested)
    def total: Long = quarantine + dlq + late + dup + ingested
    def toMap: Map[String, Long] = Map("quarantine" -> quarantine, "dlq" -> dlq,
      "late" -> late, "dup" -> dup, "ingested" -> ingested)
  }
  val NoLanes: Lanes = Lanes(0, 0, 0, 0, 0)

  final case class WireFile(lines: IndexedSeq[String], lanes: Lanes)

  final case class IngestInputs(priming: WireFile, files: IndexedSeq[WireFile])

  /** The priming file (clean rows; its epoch also fixes the first
    * watermark), `nWarm` warm-up files that together carry one trigger
    * period of wire, and `nMeasured` wire files of offered rate x interval
    * rows each, all with
    * planted malformed, drifted, missing-key, zero-volume, late and
    * replayed-duplicate rows. Late rows sit ten days behind the market
    * clock, far past the watermark delay after the priming epoch; replays
    * copy on-time rows of the last `replay_window_files` files, well
    * inside the delay, so every planted row has exactly one lane whatever
    * epochs the files fall into.
    */
  def ingest(p: Params, seed: Long, nWarm: Int, nMeasured: Int): IngestInputs = {
    val r = new SplittableRandom(seed)
    val tk = tickers(p.int("tickers"))
    val z = new Zipf(tk.size, p.double("zipf_s"))
    val rowsPerFile = math.round(p.double("offered_rows_per_s") * p.long("file_interval_ms") / 1000.0).toInt
    val warmRowsPerFile = math.ceil(
      p.double("offered_rows_per_s") * p.long("trigger_interval_ms") / 1000.0 / math.max(nWarm, 1)).toInt
    val shares = Seq("malformed_share", "drifted_share", "missing_key_share",
      "zero_volume_share", "late_share", "duplicate_share").map(p.double)
    val cum = shares.scanLeft(0.0)(_ + _).tail
    val window = p.int("replay_window_files")
    var clock = BaseEpochS
    var lateClock = BaseEpochS - 10 * 86400L
    def nextOnTime(): Bar = { clock += 1; randomBar(r, tk(z.sample(r)), clock) }
    val recent = mutable.Queue.empty[IndexedSeq[String]]

    val primingLines = (0 until p.int("priming_rows")).map(_ => nextOnTime().json)
    val priming = WireFile(primingLines, NoLanes.copy(ingested = primingLines.size))
    recent.enqueue(primingLines)

    val files = (0 until nWarm + nMeasured).map { f =>
      val pool = recent.flatten.toIndexedSeq
      val lines = mutable.ArrayBuffer.empty[String]
      val fresh = mutable.ArrayBuffer.empty[String]
      var lanes = NoLanes
      (0 until (if (f < nWarm) warmRowsPerFile else rowsPerFile)).foreach { _ =>
        val u = r.nextDouble()
        if (u < cum(0)) {
          lines += truncated(nextOnTime().json); lanes = lanes.copy(quarantine = lanes.quarantine + 1)
        } else if (u < cum(1)) {
          lines += drifted(nextOnTime().json); lanes = lanes.copy(quarantine = lanes.quarantine + 1)
        } else if (u < cum(2)) {
          lines += nextOnTime().copy(ticker = null).json; lanes = lanes.copy(dlq = lanes.dlq + 1)
        } else if (u < cum(3)) {
          lines += nextOnTime().copy(volume = 0).json; lanes = lanes.copy(dlq = lanes.dlq + 1)
        } else if (u < cum(4)) {
          lateClock += 1
          lines += randomBar(r, tk(z.sample(r)), lateClock).json
          lanes = lanes.copy(late = lanes.late + 1)
        } else if (u < cum(5) && pool.nonEmpty) {
          lines += pool(r.nextInt(pool.size)); lanes = lanes.copy(dup = lanes.dup + 1)
        } else {
          val l = nextOnTime().json
          lines += l; fresh += l; lanes = lanes.copy(ingested = lanes.ingested + 1)
        }
      }
      recent.enqueue(fresh.toIndexedSeq)
      while (recent.size > window) recent.dequeue()
      WireFile(lines.toIndexedSeq, lanes)
    }
    IngestInputs(priming, files)
  }

  // ------------------------------------------------------------------
  // lakehouse: initial bar and trade tables, then a seeded op stream
  // ------------------------------------------------------------------

  final case class Trade(ticker: String, epochS: Long, price: Double, qty: Long) {
    def json: String =
      s"""{"ticker":"$ticker","datetime":"${Instant.ofEpochSecond(epochS)}","price":$price,"qty":$qty}"""
  }

  final case class LakeInputs(bars: IndexedSeq[Bar], trades: IndexedSeq[Trade])

  /** `tickers` series of `nBars` one-minute bars, and `nTrades` trades
    * inside those series with Zipf-skewed tickers.
    */
  def lakeInitial(p: Params, seed: Long, nBars: Int, nTrades: Int): LakeInputs = {
    val r = new SplittableRandom(seed)
    val tk = tickers(p.int("tickers"))
    val z = new Zipf(tk.size, p.double("zipf_s"))
    val bars = for (t <- tk; i <- 0 until nBars) yield randomBar(r, t, BaseEpochS + 60L * i)
    val trades = (0 until nTrades).map { _ =>
      Trade(tk(z.sample(r)), BaseEpochS + r.nextInt(nBars * 60), tick(r, 800, 2400),
        1L + r.nextInt(500))
    }
    LakeInputs(bars, trades)
  }

  // ------------------------------------------------------------------
  // curate: text corpus with planted duplicate clusters + embeddings
  // ------------------------------------------------------------------

  final case class Doc(id: Long, text: String, quality: Double, emb: Array[Double]) {
    def json: String =
      s"""{"id":$id,"text":"$text","quality":$quality,"emb":[${emb.mkString(",")}]}"""
  }
  final case class Query(qid: Long, qv: Array[Double]) {
    def json: String = s"""{"qid":$qid,"qv":[${qv.mkString(",")}]}"""
  }

  /** `exactDups`: docs whose text repeats an earlier doc's (what exact
    * dedup must remove). `nearPairs`: (original, near copy) id pairs
    * planted one word apart; pairs whose copy is itself an exact repeat
    * are left out.
    */
  final case class CurateInputs(docs: IndexedSeq[Doc], queries: IndexedSeq[Query],
      exactDups: Long, nearPairs: IndexedSeq[(Long, Long)])

  def q1024(x: Double): Double = math.rint(x * 1024) / 1024

  def curate(p: Params, seed: Long, nDocs: Int): CurateInputs = {
    val r = new SplittableRandom(seed)
    val dim = p.int("dim")
    val vocab = (0 until p.int("vocab")).map { _ =>
      val n = 3 + r.nextInt(7)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val words = p.int("words_per_doc")
    val centers = (0 until p.int("centers")).map(_ => Array.fill(dim)(r.nextGaussian()))
    val spread = p.double("cluster_spread")
    def near(v: Array[Double], s: Double): Array[Double] = v.map(x => q1024(x + s * r.nextGaussian()))
    val exactShare = p.double("exact_dup_share")
    val nearShare = p.double("near_dup_share")
    val docs = mutable.ArrayBuffer.empty[Doc]
    val originals = mutable.ArrayBuffer.empty[Int]
    val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    val seen = mutable.HashSet.empty[String]
    var exactDups = 0L
    (0 until nDocs).foreach { i =>
      val u = r.nextDouble()
      val doc =
        if (originals.nonEmpty && u < exactShare) {
          val src = docs(originals(r.nextInt(originals.size)))
          src.copy(id = i.toLong, quality = q1024(r.nextDouble()))
        } else if (originals.nonEmpty && u < exactShare + nearShare) {
          val src = docs(originals(r.nextInt(originals.size)))
          val ws = src.text.split(' ')
          val at = r.nextInt(ws.length)
          var w = ws(at)
          while (w == ws(at)) w = vocab(r.nextInt(vocab.size))
          ws(at) = w
          val d = Doc(i.toLong, ws.mkString(" "), q1024(r.nextDouble()), near(src.emb, 0.02))
          if (!seen.contains(d.text)) nearPairs += ((src.id, d.id))
          d
        } else {
          originals += i
          val text = (0 until words).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
          Doc(i.toLong, text, q1024(r.nextDouble()),
            near(centers(r.nextInt(centers.size)), spread))
        }
      if (!seen.add(doc.text)) exactDups += 1
      docs += doc
    }
    val queries = (0 until p.int("queries")).map { q =>
      Query(q.toLong, near(docs(r.nextInt(docs.size)).emb, p.double("query_noise")))
    }
    CurateInputs(docs.toIndexedSeq, queries, exactDups, nearPairs.toIndexedSeq)
  }
}
