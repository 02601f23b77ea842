package graft.perfbench

import java.time.Instant
import scala.collection.mutable

/** Seeded CoinGecko `/coins/markets` snapshot generator and the warehouse
  * state it implies.
  *
  * Cycle k lists every live coin: about 90% are re-priced (new values, new
  * `last_updated`), `NewPerCycle` coins are listed for the first time, and
  * about 1% sit the cycle out (unlisted coins keep their warehouse rows).
  * The FIXTURES.md A1 edge rows are always present: two coins share the
  * symbol `dup` (the merge-key hazard), `roi` and `max_supply` are often
  * null, and one name contains a comma.
  *
  * The expected state follows the pipeline's documented semantics: the key
  * is the symbol; a snapshot is deduplicated to the latest row per key (dim:
  * greatest `name`; fact: latest `last_updated`) and that row replaces the
  * warehouse row (SCD1, source wins); keys absent from a snapshot keep
  * their row. */
final class Coins(seed: Long, initial: Int) {
  import Coins._

  private final class Coin(val idx: Int) {
    val id: String = idx match {
      case 0 => "alpha-one"
      case 1 => "alpha-two"
      case _ => s"coin-$idx"
    }
    val symbol: String = if (idx < 2) "dup" else s"c${Integer.toString(idx, 36)}"
    val name: String = idx match {
      case 0 => "Alpha One"
      case 1 => "Alpha Two"
      case 2 => "Wrapped, Coin"
      case _ => s"Coin $idx"
    }
    val image = s"https://img.example/$symbol-$idx.png"
    var price = 0.0
    var supply = 0.0
    var volume = 0.0
    var change = 0.0
    var changePct = 0.0
    var updatedMs = 0L
    val maxSupply: Option[Double] = if (idx % 4 == 0) None else Some((idx + 1) * 1.0e6)
    val hasRoi: Boolean = idx % 3 != 0
  }

  private val coins = mutable.ArrayBuffer[Coin]()
  private val r = Gen.rng(seed, 21)

  /** Expected warehouse rows per key, and the raw JSON bytes of each. */
  val dim = mutable.Map[String, DimRow]()
  val fact = mutable.Map[String, FactRow]()
  private val rawBytes = mutable.Map[String, Int]()
  /** Keys whose dim or fact row the last snapshot changed. */
  var changedRows = 0
  var cycles = 0

  private def reprice(c: Coin, k: Int): Unit = {
    val p = if (c.price == 0) 0.01 + r.nextDouble() * 50000 else c.price
    val np = round(p * (1 + r.nextDouble(-0.05, 0.05)), 6)
    c.change = round(np - p, 6)
    c.changePct = round(if (p == 0) 0 else 100 * (np - p) / p, 4)
    c.price = np
    if (c.supply == 0) c.supply = round(1.0e5 + r.nextDouble() * 1.0e9, 0)
    c.volume = round(r.nextDouble() * 1.0e9, 2)
    c.updatedMs = BaseMs + k * CycleMs + c.idx * 7L
  }

  private def factRow(c: Coin): FactRow = FactRow(c.symbol, c.price,
    round(c.price * c.supply, 2), c.idx + 1, c.volume, c.changePct, c.changePct,
    round(c.price * 1.02, 6), round(c.price * 0.98, 6), c.change, c.supply,
    if (c.idx % 5 == 0) None else Some(c.supply * 1.1), c.maxSupply, c.updatedMs * 1000)

  private def json(c: Coin, fr: FactRow): String = {
    def d(x: Double) = x.toString
    def od(x: Option[Double]) = x.map(d).getOrElse("null")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val roi =
      if (!c.hasRoi) "null"
      else s"""{"times": ${d(round(c.price / 3, 4))}, "currency": "usd", "percentage": ${d(round(c.price * 33, 2))}}"""
    s"""{"id": ${str(c.id)}, "symbol": ${str(c.symbol)}, "name": ${str(c.name)}, """ +
      s""""image": ${str(c.image)}, "current_price": ${d(fr.price)}, "market_cap": ${d(fr.marketCap)}, """ +
      s""""market_cap_rank": ${fr.rank}, "fully_diluted_valuation": ${od(c.maxSupply.map(m => round(m * c.price, 2)))}, """ +
      s""""total_volume": ${d(fr.volume)}, "high_24h": ${d(fr.high)}, "low_24h": ${d(fr.low)}, """ +
      s""""price_change_24h": ${d(fr.change)}, "price_change_percentage_24h": ${d(fr.changePct)}, """ +
      s""""market_cap_change_24h": ${d(round(fr.change * c.supply, 2))}, """ +
      s""""market_cap_change_percentage_24h": ${d(fr.mcapChangePct)}, """ +
      s""""circulating_supply": ${d(fr.circulating)}, "total_supply": ${od(fr.totalSupply)}, """ +
      s""""max_supply": ${od(fr.maxSupply)}, "ath": ${d(round(fr.price * 2, 6))}, """ +
      s""""ath_change_percentage": -50.0, "ath_date": "2024-03-14T07:10:36.635Z", """ +
      s""""atl": ${d(round(fr.price / 10, 6))}, "atl_change_percentage": 900.0, """ +
      s""""atl_date": "2015-10-20T00:00:00.000Z", "roi": $roi, """ +
      s""""last_updated": "${Instant.ofEpochMilli(fr.lastUpdatedMicros / 1000)}"}"""
  }

  /** The raw snapshot for the next cycle (a JSON array), applied to the
    * expected state. */
  def next(): String = {
    val k = cycles
    cycles += 1
    val fresh = if (k == 0) initial else NewPerCycle
    (0 until fresh).foreach { _ =>
      val c = new Coin(coins.size)
      coins += c
      reprice(c, k)
    }
    val listed = coins.filter { c =>
      if (c.idx < 3 || c.updatedMs == BaseMs + k * CycleMs + c.idx * 7L) true
      else r.nextInt(100) != 0
    }
    listed.foreach { c =>
      if (c.updatedMs != BaseMs + k * CycleMs + c.idx * 7L && r.nextInt(10) != 0) reprice(c, k)
    }
    val rows = listed.map(c => (c, factRow(c)))
    val objs = rows.map { case (c, fr) => json(c, fr) }
    // expected state: latest row per key, then SCD1 replace
    changedRows = 0
    rows.zip(objs).groupBy(_._1._1.symbol).foreach { case (sym, group) =>
      val dimWin = group.maxBy(_._1._1.name)._1._1
      val dr = DimRow(sym, dimWin.name, sym, dimWin.image)
      val (factWin, factWinJson) = group.maxBy(_._1._2.lastUpdatedMicros) match {
        case ((_, fr), js) => (fr, js)
      }
      if (!dim.get(sym).contains(dr)) changedRows += 1
      if (!fact.get(sym).contains(factWin)) changedRows += 1
      dim(sym) = dr
      fact(sym) = factWin
      rawBytes(sym) = factWinJson.getBytes("UTF-8").length
    }
    objs.mkString("[\n", ",\n", "\n]\n")
  }

  /** Raw JSON bytes of the rows the warehouse holds now. */
  def liveRawBytes: Long = rawBytes.values.map(_.toLong).sum
}

object Coins {
  val NewPerCycle = 5
  /** 2026-01-01T00:00:00Z; cycle k is stamped k minutes later. */
  val BaseMs = 1767225600000L
  val CycleMs = 60000L

  def round(x: Double, digits: Int): Double = BigDecimal(x).setScale(digits,
    BigDecimal.RoundingMode.HALF_UP).toDouble

  final case class DimRow(id: String, name: String, symbol: String, imageUrl: String)

  final case class FactRow(id: String, price: Double, marketCap: Double, rank: Int,
                           volume: Double, changePct: Double, mcapChangePct: Double,
                           high: Double, low: Double, change: Double, circulating: Double,
                           totalSupply: Option[Double], maxSupply: Option[Double],
                           lastUpdatedMicros: Long)
}
