package perfbench

import java.time.{DayOfWeek, LocalDate}

import graft.marketpulse.Schemas

/**
 * Seeded, provider-shaped daily-series documents for the refresh
 * workload. Every symbol shares one trading calendar (weekdays ending
 * at `landedDays`), so after any cycle the landed bars are exactly
 * symbols × landed dates.
 *
 * A bar's values are a pure function of (seed, symbol, day, revision):
 * a refetch that restates a day draws it at a new revision, so the
 * newest fetch's value is known without keeping the store in memory.
 */
final class MarketDocs(seed: Long, val symbols: Seq[String], landedDays: Int) {
  private val compactDays = 100
  private val start = LocalDate.of(2000, 1, 3)
  private val calendar = Iterator.iterate(start)(_.plusDays(1))
    .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
    .take(landedDays + 10000).map(_.toString).toIndexedSeq

  /** Unknown ticker whose fetch returns the provider's error document
    * (no daily-series key, so ingest drops it). */
  val errorSymbol: String = f"ZZ${(seed.abs % 90) + 10}%02d"

  /** Trading dates landed after `cycle` refresh cycles (0 = set-up). */
  def landedDates(cycle: Int): Int = landedDays + cycle
  def date(day: Int): String = calendar(day)

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53)

  /** Close price of `symbol` on `day` as revision `rev` reports it,
    * formatted the way the provider sends it. */
  private def close(symbol: String, day: Int, rev: Int): String = {
    val s = mix(seed, symbol.hashCode.toLong)
    val base = 20.0 + 400.0 * unit(s)
    val trend = math.exp(0.0002 * day + 0.1 * math.sin(day / (50.0 + 30 * unit(mix(s, 1)))))
    val noise = 1.0 + 0.02 * (unit(mix(mix(s, day), rev)) - 0.5)
    f"${base * trend * noise}%.4f"
  }

  private def bar(symbol: String, day: Int, rev: Int): String = {
    val c = close(symbol, day, rev).toDouble
    val h = mix(mix(seed, symbol.hashCode.toLong), day * 31L + rev)
    val open = c * (1.0 + 0.01 * (unit(h) - 0.5))
    val high = math.max(open, c) * (1.0 + 0.005 * unit(mix(h, 1)))
    val low = math.min(open, c) * (1.0 - 0.005 * unit(mix(h, 2)))
    val volume = 100000L + (unit(mix(h, 3)) * 5e7).toLong
    f"""    "${date(day)}": {"1. open": "$open%.4f", "2. high": "$high%.4f", "3. low": "$low%.4f", "4. close": "${close(symbol, day, rev)}", "5. volume": "$volume"}"""
  }

  private def provider(symbol: String): String =
    Schemas.symbolAliases.getOrElse(symbol, symbol)

  private def document(symbol: String, days: Seq[(Int, Int)]): String = {
    val meta =
      s"""  "${Schemas.MetaKey}": {"1. Information": "Daily Prices (open, high, low, close) and Volumes", """ +
        s""""${Schemas.MetaSymbolKey}": "${provider(symbol)}", "3. Last Refreshed": "${date(days.map(_._1).max)}", """ +
        s""""4. Output Size": "${if (days.size > compactDays) "Full size" else "Compact"}", "5. Time Zone": "US/Eastern"}"""
    val series = days.sortBy(-_._1).map { case (d, r) => bar(symbol, d, r) }.mkString(",\n")
    s"{\n$meta,\n  \"${Schemas.SeriesKey}\": {\n$series\n  }\n}"
  }

  private val errorDocument =
    """{"Error Message": "Invalid API call. Please retry or visit the documentation for TIME_SERIES_DAILY."}"""

  /** Revision of `day` as cycle `cycle` serves it: a day added in cycle
    * a (0 = the landing) is written at revision a, and the cycle that
    * restates it writes revision a + 1. Days before the landing's last
    * are never restated. */
  private def revision(day: Int, cycle: Int): Int = {
    val restatedIn = day - landedDays + 2
    if (restatedIn >= 1 && cycle >= restatedIn) restatedIn
    else math.max(0, day - landedDays + 1)
  }

  /** Provider responses for the landing: full history of every symbol. */
  def fullHistory: Map[String, String] =
    symbols.map(s => provider(s) -> document(s, (0 until landedDays).map(d => (d, 0)))).toMap

  /** Provider responses for refresh `cycle` (1-based): the compact last
    * 100 days, restating the newest landed day and adding one, plus
    * the error document for [[errorSymbol]]. */
  def refetch(cycle: Int): Map[String, String] = {
    val last = landedDates(cycle) - 1
    val days = (last - compactDays + 1 to last).map(d => d -> revision(d, cycle))
    symbols.map(s => provider(s) -> document(s, days)).toMap + (errorSymbol -> errorDocument)
  }

  /** The close every symbol must carry on the day `cycle` restated. */
  def restated(cycle: Int): (String, Map[String, Double]) = {
    val day = landedDates(cycle) - 2
    date(day) -> symbols.map(s => s -> close(s, day, cycle).toDouble).toMap
  }
}
