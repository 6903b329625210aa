package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One operation of the `lakehouse` client. */
sealed trait LakeOp {
  def kind: String
  def isWrite: Boolean
  def describe: String = kind
}
final case class Upsert(lines: IndexedSeq[String], good: IndexedSeq[Gen.Bar]) extends LakeOp {
  def kind = "upsert"; def isWrite = true
  override def describe = s"upsert ${good.size} good + ${lines.size - good.size} bad: ${good.map(_.id.take(12)).mkString(",")}"
}
final case class Delete(keys: IndexedSeq[(String, Long)]) extends LakeOp {
  def kind = "delete"; def isWrite = true
  override def describe = s"delete ${keys.mkString(",")}"
}
final case class AppendTrades(trades: IndexedSeq[Gen.Trade]) extends LakeOp {
  def kind = "append"; def isWrite = true
  override def describe = s"append ${trades.size}: ${trades.take(3).map(_.json).mkString(",")}"
}
final case class Simple(kind: String, isWrite: Boolean) extends LakeOp

/** The benchmark's own in-memory model of the bar and trade tables. */
final class LakeModel(in: Gen.LakeInputs) {
  val bars = mutable.HashMap.empty[String, Gen.Bar]
  val series = mutable.HashMap.empty[String, java.util.TreeSet[java.lang.Long]]
  val trades = mutable.HashMap.empty[String, (Long, Long)] // ticker -> (n, Σ qty)
  var refreshed: Map[String, (Long, Long)] = Map.empty // trades as of the last view refresh

  in.bars.foreach(put)
  in.trades.foreach(addTrade)

  private def put(b: Gen.Bar): Unit = {
    bars(b.id) = b
    series.getOrElseUpdate(b.ticker, new java.util.TreeSet[java.lang.Long]()).add(b.epochS)
  }
  private def addTrade(t: Gen.Trade): Unit = {
    val (n, q) = trades.getOrElse(t.ticker, (0L, 0L))
    trades(t.ticker) = (n + 1, q + t.qty)
  }

  def tradeCount: Long = trades.values.map(_._1).sum
  def tickersWithBars: Int = series.count(!_._2.isEmpty)
  def volumeSum: Long = bars.values.map(_.volume.toLong).sum

  def apply(op: LakeOp): Unit = op match {
    case Upsert(_, good) => good.foreach(put)
    case Delete(keys) => keys.foreach { case (t, e) =>
      bars.remove(Gen.barId(t, e)); series(t).remove(e) }
    case AppendTrades(ts) => ts.foreach(addTrade)
    case Simple("mv_refresh", _) => refreshed = trades.toMap
    case _ => ()
  }
}

/** Seeded op stream over the model: a fixed cycle of kinds (so every run
  * measures the same mix), with keys drawn from the model's current
  * state, skewed toward hot tickers (Zipf) and recent bars.
  */
final class LakeOps(p: Params, seed: Long, model: LakeModel) {
  private val r = new SplittableRandom(seed * 31 + 7)
  private val tk = model.series.keys.toIndexedSeq.sorted
  private val z = new Gen.Zipf(tk.size, p.double("zipf_s"))

  val cycle: IndexedSeq[String] = IndexedSeq("upsert", "append", "delete", "mv_refresh", "compact",
    "snapshot", "indicators", "risk", "asof")

  private def epochs(t: String): IndexedSeq[Long] = model.series(t).asScala.map(_.longValue).toIndexedSeq

  def next(i: Int): LakeOp = cycle(i % cycle.size) match {
    case "upsert" =>
      val chosen = mutable.LinkedHashMap.empty[String, Gen.Bar]
      val recent = p.int("recent_bars")
      while (chosen.size < p.int("upsert_rows")) {
        val t = tk(z.sample(r))
        val es = epochs(t)
        val e =
          if (r.nextDouble() < p.double("upsert_new_share"))
            math.max(es.last, chosen.values.filter(_.ticker == t).map(_.epochS).maxOption.getOrElse(0L)) + 60
          else es(es.size - 1 - r.nextInt(math.min(recent, es.size)))
        val b = Gen.randomBar(r, t, e)
        if (!chosen.contains(b.id)) chosen(b.id) = b
      }
      val good = chosen.values.toIndexedSeq
      val any = Gen.randomBar(r, tk(z.sample(r)), Gen.BaseEpochS)
      val bad = IndexedSeq(Gen.drifted(any.json), Gen.truncated(any.json),
        any.copy(ticker = null).json, any.copy(volume = 0).json)
      Upsert(good.map(_.json) ++ bad, good)
    case "delete" =>
      val keys = mutable.LinkedHashSet.empty[(String, Long)]
      while (keys.size < p.int("delete_rows")) {
        val t = tk(z.sample(r))
        val es = epochs(t)
        // older bars only, and never a series' last bar
        if (es.size > 1) keys += ((t, es(r.nextInt(math.max(es.size - p.int("recent_bars"), 1)))))
      }
      Delete(keys.toIndexedSeq)
    case "append" =>
      AppendTrades((0 until p.int("append_trades")).map { _ =>
        val t = tk(z.sample(r))
        val es = epochs(t)
        Gen.Trade(t, es(r.nextInt(es.size)) + r.nextInt(60), Gen.tick(r, 800, 2400), 1L + r.nextInt(500))
      })
    case k @ ("compact" | "mv_refresh") => Simple(k, isWrite = true)
    case k => Simple(k, isWrite = false)
  }
}
