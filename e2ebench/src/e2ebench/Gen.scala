package e2ebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** Seeded input generators. The program under test only ever sees what
  * these write: polygon page trees on disk and corpus drops as frames.
  * Equal seeds give equal inputs.
  */
object Gen {

  /** Writes `body` under `dir/name` by rename, so a concurrent reader never
    * sees a partial page (the listing ignores names not starting "page-").
    */
  def writeAtomic(dir: Path, name: String, body: String): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-$name")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A generator for one stream of draws. The parts are mixed (splitmix64)
    * first: java.util.Random's first draws from nearby seeds are
    * correlated, which would give every ticker the same price level.
    */
  def rng(parts: Long*): scala.util.Random = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    new scala.util.Random(parts.foldLeft(0L)((h, p) => mix(h ^ p)))
  }

  def pageName(i: Int): String = f"page-$i%04d.json"

  def cents(c: Long): String = {
    val a = math.abs(c)
    (if (c < 0) "-" else "") + s"${a / 100}." + f"${a % 100}%02d"
  }

  // ---- market --------------------------------------------------------------

  /** One minute bar; prices in cents. */
  final case class Bar(t: Long, o: Long, h: Long, l: Long, c: Long,
                       v: Long, vw: Long, n: Long) {
    def json: String =
      s"""{"t":$t,"o":${cents(o)},"h":${cents(h)},"l":${cents(l)},"c":${cents(c)},""" +
        s""""v":$v.0,"vw":${cents(vw)},"n":$n}"""
  }

  val minutesPerDay = 390
  /** 2024-01-02 14:30 UTC: the first regular-session minute of the series. */
  val t0: Long = 1704205800000L
  val dayMs: Long = 86400000L

  /** A cent-rounded random walk per ticker, one trading day at a time.
    * Each ticker owns its generator, so a series continues across calls.
    */
  final class Walk(seed: Long, idx: Int) {
    private val rng = Gen.rng(seed, idx.toLong)
    // price level log-uniform over $1 .. $400 and per-minute volatility
    // log-uniform over 0.05% .. 0.3%: cheap names often print unchanged
    // cent-rounded closes, as they do in a real universe
    private var close: Long = math.round(math.exp(math.log(100) + rng.nextDouble() * math.log(400)))
    private val vol: Double = math.exp(math.log(0.0005) + rng.nextDouble() * math.log(6))
    private var day = 0

    def nextDay(): Seq[Bar] = nextBars(minutesPerDay, dayStart = true)

    /** `k` further minutes, continuing where the walk stopped. */
    def nextBars(k: Int, dayStart: Boolean = false): Seq[Bar] = {
      val start = if (dayStart) { val d = day; day += 1; t0 + d * dayMs } else -1L
      val b = Seq.newBuilder[Bar]
      var i = 0
      while (i < k) {
        val o = close
        val sigma = o * vol
        val c = math.max(1L, o + math.round(rng.nextGaussian() * sigma))
        val h = math.max(o, c) + math.round(math.abs(rng.nextGaussian()) * sigma / 2)
        val l = math.max(1L, math.min(o, c) - math.round(math.abs(rng.nextGaussian()) * sigma / 2))
        val vw = l + (if (h > l) rng.nextLong(h - l + 1) else 0L)
        val t = if (start >= 0) start + i * 60000L else { minute += 1; minute * 60000L }
        b += Bar(t, o, h, l, c, 100L + rng.nextInt(5000), vw, 1L + rng.nextInt(60))
        close = c
        i += 1
      }
      b.result()
    }
    // free-running minute clock for live pages (not tied to trading days)
    private var minute: Long = t0 / 60000L - 1
  }

  def page(results: Seq[String], next: Option[String]): String =
    s"""{"status":"OK","results":${results.mkString("[", ",", "]")},""" +
      s""""next_url":${next.map(n => "\"" + n + "\"").getOrElse("null")}}"""

  final case class Ticker(symbol: String, market: String, idx: Int)

  /** The ticker universe: `nStocks` stocks plus `nOther` crypto / fx
    * tickers whose pages the stocks semi-join must prune.
    */
  def universe(seed: Long, nStocks: Int, nOther: Int): Seq[Ticker] = {
    val rng = Gen.rng(seed, 1L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < nStocks + nOther) {
      val len = 2 + rng.nextInt(3)
      seen += (0 until len).map(_ => ('A' + rng.nextInt(26)).toChar).mkString
    }
    seen.toSeq.zipWithIndex.map { case (s, i) =>
      Ticker(s, if (i < nStocks) "stocks" else if (i % 2 == 0) "crypto" else "fx", i)
    }
  }

  /** A batch page tree: one 390-bar page per ticker and trading day, each
    * page after the first re-serving its predecessor's last bar. Keeps the
    * served bars so checks can compare against exactly what was written.
    */
  final class MarketTree(val root: Path, seed: Long, nStocks: Int, nOther: Int,
                         series: String = "minute--1--adjusted") {
    val tickers: Seq[Ticker] = universe(seed, nStocks, nOther)
    private val walks = tickers.map(t => t.symbol -> new Walk(seed, t.idx)).toMap
    /** Per ticker: the pages written, in chain order. */
    val pages: Map[String, mutable.ArrayBuffer[Seq[Bar]]] =
      tickers.map(t => t.symbol -> mutable.ArrayBuffer.empty[Seq[Bar]]).toMap
    var servedBars = 0L

    private def dir(sym: String) = root.resolve(sym).resolve(series)

    private def writeSeriesPage(sym: String, i: Int, bars: Seq[Bar], last: Boolean): Unit = {
      val body = page(bars.map(_.json), if (last) None else Some(pageName(i + 1)))
      servedBars += bars.size
      writeAtomic(dir(sym), pageName(i), body)
    }

    /** Appends one trading day to every series (re-chaining the old tail). */
    def addDay(): Unit =
      tickers.foreach { t =>
        val ps = pages(t.symbol)
        val day = walks(t.symbol).nextDay()
        val withOverlap = ps.lastOption.map(_.last +: day).getOrElse(day)
        if (ps.nonEmpty) { // the old tail now names its successor
          val i = ps.size - 1
          writeAtomic(dir(t.symbol), pageName(i),
            page(ps(i).map(_.json), Some(pageName(i + 1))))
        }
        ps += withOverlap
        writeSeriesPage(t.symbol, ps.size - 1, withOverlap, last = true)
      }

    /** At-least-once delivery: one series serves an earlier page again at
    * the end of its chain.
    */
    def reserve(rng: scala.util.Random): Unit = {
      val t = tickers(rng.nextInt(tickers.size))
      val ps = pages(t.symbol)
      val again = ps(rng.nextInt(ps.size))
      val i = ps.size - 1
      writeAtomic(dir(t.symbol), pageName(i), page(ps(i).map(_.json), Some(pageName(i + 1))))
      ps += again
      writeSeriesPage(t.symbol, ps.size - 1, again, last = true)
    }

    /** Dimension endpoints, markets mixed, 50 rows a page. */
    def writeDims(rng: scala.util.Random): Unit = {
      def chain(ep: String, rows: Seq[String]): Unit =
        rows.grouped(50).toSeq.zipWithIndex.foreach { case (g, i) =>
          val n = (rows.size + 49) / 50
          writeAtomic(root.resolve("_ref").resolve(ep), pageName(i),
            page(g, if (i + 1 < n) Some(pageName(i + 1)) else None))
        }
      chain("tickers", tickers.map(t =>
        s"""{"ticker":"${t.symbol}","name":"Name ${t.symbol}","market":"${t.market}",""" +
          s""""locale":"us","primary_exchange":"X${t.idx % 4}","type":"CS",""" +
          s""""active":true,"currency_name":"usd"}"""))
      chain("splits", tickers.filter(_ => rng.nextInt(4) == 0).map(t =>
        s"""{"ticker":"${t.symbol}","execution_date":"2023-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)}",""" +
          s""""split_from":1.0,"split_to":${2 + rng.nextInt(3)}.0}"""))
      chain("dividends", tickers.filter(_ => rng.nextInt(3) == 0).map(t =>
        s"""{"ticker":"${t.symbol}","ex_dividend_date":"2023-1${rng.nextInt(3)}-0${1 + rng.nextInt(9)}",""" +
          s""""pay_date":"2023-12-2${rng.nextInt(10)}","cash_amount":0.${10 + rng.nextInt(89)},"frequency":4}"""))
    }

    def stocks: Seq[Ticker] = tickers.filter(_.market == "stocks")

    /** Distinct bars served so far for one ticker, by time. */
    def distinctBars(sym: String): Seq[Bar] =
      pages(sym).flatten.groupBy(_.t).values.map(_.head).toSeq.sortBy(_.t)
  }

  /** A live page chain per ticker: small pages of `barsPerPage` fresh
    * minutes, each re-serving its predecessor's last bar, written on a
    * schedule by the caller. Every page names its successor in advance —
    * a micro-batch reads a bounded page range, never past the frontier.
    */
  final class LiveTree(val root: Path, seed: Long, nStocks: Int, barsPerPage: Int) {
    val tickers: Seq[Ticker] = universe(seed, nStocks, 0)
    private val walks = tickers.map(t => t.symbol -> new Walk(seed, t.idx)).toMap
    private val lastBar = mutable.HashMap.empty[String, Bar]
    val written = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val bars = mutable.HashMap.empty[String, mutable.ArrayBuffer[Bar]]

    /** Writes the next page of `sym`; returns its page index. */
    def writeNext(sym: String): Int = {
      val fresh = walks(sym).nextBars(barsPerPage)
      val body = lastBar.get(sym).map(_ +: fresh).getOrElse(fresh)
      val i = written(sym)
      writeAtomic(root.resolve(sym).resolve("minute--1--adjusted"), pageName(i),
        page(body.map(_.json), Some(pageName(i + 1))))
      lastBar(sym) = fresh.last
      bars.getOrElseUpdate(sym, mutable.ArrayBuffer.empty) ++= fresh
      written(sym) = i + 1
      i
    }

    def distinctBarCount: Long = bars.values.map(_.size.toLong).sum
  }

  // ---- corpus --------------------------------------------------------------

  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float])

  /** Text and embedding drops with planted duplicates: `dupFrac` of every
    * drop copies an earlier document or vector, half verbatim and half
    * with a small edit. Verbatim copies are recorded for the checks.
    */
  final class CorpusGen(seed: Long, dupFrac: Double) {
    private val rng = Gen.rng(seed, 2L)
    private val vocab: Array[String] = {
      val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "ga",
        "vu", "be", "zo", "fi", "ha", "ju", "qe", "wy", "xo", "ce")
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 6000)
        s += (0 until 2 + rng.nextInt(3)).map(_ => syl(rng.nextInt(syl.length))).mkString
      s.toArray
    }
    private val docs = mutable.ArrayBuffer.empty[Doc]
    private val vecs = mutable.ArrayBuffer.empty[Vec]
    private var nextId = 1000L
    val verbatimText = mutable.ArrayBuffer.empty[(Long, Long)]
    val verbatimVec = mutable.ArrayBuffer.empty[(Long, Long)]

    private def freshId(): Long = { nextId += 1 + rng.nextInt(7); nextId }
    private def word(): String = {
      val u = rng.nextDouble()
      vocab((u * u * vocab.length).toInt) // mildly skewed word frequencies
    }

    def textDrop(n: Int): Seq[Doc] = {
      val out = mutable.ArrayBuffer.empty[Doc]
      while (out.size < n) {
        val pool = docs.size + out.size
        if (pool > 0 && rng.nextDouble() < dupFrac) {
          val src = { val k = rng.nextInt(pool); if (k < docs.size) docs(k) else out(k - docs.size) }
          val id = freshId()
          if (rng.nextBoolean()) { out += Doc(id, src.text); verbatimText += ((src.id, id)) }
          else {
            val w = src.text.split(' ')
            w(rng.nextInt(w.length)) = word()
            out += Doc(id, w.mkString(" "))
          }
        } else out += Doc(freshId(), Seq.fill(40 + rng.nextInt(41))(word()).mkString(" "))
      }
      docs ++= out
      out.toSeq
    }

    def vecDrop(n: Int, dims: Int = 64): Seq[Vec] = {
      def norm(a: Array[Float]): Array[Float] = {
        val s = math.sqrt(a.map(x => x.toDouble * x).sum).toFloat
        a.map(_ / s)
      }
      val out = mutable.ArrayBuffer.empty[Vec]
      while (out.size < n) {
        val pool = vecs.size + out.size
        if (pool > 0 && rng.nextDouble() < dupFrac) {
          val src = { val k = rng.nextInt(pool); if (k < vecs.size) vecs(k) else out(k - vecs.size) }
          val id = freshId()
          if (rng.nextBoolean()) { out += Vec(id, src.v.clone()); verbatimVec += ((src.id, id)) }
          else out += Vec(id, norm(src.v.map(x => x + (rng.nextGaussian() * 0.01).toFloat)))
        } else out += Vec(freshId(), norm(Array.fill(dims)(rng.nextGaussian().toFloat)))
      }
      vecs ++= out
      out.toSeq
    }
  }
}
