package e2ebench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.app.{Backfill, CorpusIngest, LiveIngest}
import graft.core.{Layout, Sinks, WarehouseLease}
import graft.operators.{Indicators, MarketOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Sizes of one pass. The live universe is the reference's 128-ticker PoC
  * cap; the batch universe (16 stocks, 2 pruned crypto/fx tickers) and the
  * 200-row drops keep a pass near a minute on a 4-core machine, where the
  * engine's per-call fixed cost, not row count, sets the wall. The live
  * rate is about half the parent commit's catch-up rate, and the 2 s
  * trigger leaves each micro-batch (about 1 s) idle time, so a page's
  * freshness is a trigger wait plus one batch, not a queue.
  */
object Sizes {
  val stocks = 16
  val others = 2
  val days = 3
  val boxReads = 5
  val liveStocks = 128
  val liveBarsPerPage = 10
  val livePagesPerSec = 250.0
  val liveSeconds = 8.0
  val liveTriggerMs = 2000L
  val backlogPages = 6
  val textDrops = 2
  val dropSize = 200
  val readRounds = 4
  val dupFrac = 0.10
}

/** A failure the engine shows at the benchmark's parent commit: an
  * operation of this name whose error message contains `error`.
  */
final case class KnownFailure(operation: String, error: String)

/** Counts operations, failures and checks; collects metric samples. A run
  * is correct when every check passes and every failed operation is one of
  * the `known` failures of the parent commit.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val work: Path,
                val seed: Long, val cores: Int, known: Seq[KnownFailure]) {
  var attempted = 0
  var failed = 0
  var correct = true
  val failures = mutable.LinkedHashSet.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Inputs of the workload-independent end-to-end metrics: latency until
    * new data is visible, latency of reads, what ingest calls landed, and
    * the summed wall of every call (outside the traced-only probes).
    */
  val visibleMs = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  var ingestRows = 0L
  var ingestSecs = 0.0
  var workSecs = 0.0
  var probing = false

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One operation: a public call into the program, timed from outside.
    * A throw counts as a failed operation and returns None; a failure that
    * is not a known one also makes the run incorrect.
    */
  def op[T](layerName: String, name: String)(f: => T): (Option[T], Double) = {
    attempted += 1
    val (r, secs) = probe.call(layerName, name)(f)
    if (!probing) workSecs += secs
    r match {
      case Right(v) => (Some(v), secs)
      case Left(e) =>
        failed += 1
        val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
        val isKnown = known.exists(k => k.operation == name && msg.contains(k.error))
        if (!isKnown) correct = false
        failures += s"$name: ${e.getClass.getSimpleName}: ${msg.take(160)}" +
          (if (isKnown) " (known at the parent commit)" else "")
        System.err.println(s"[e2ebench] operation failed: $name: $e")
        (None, secs)
    }
  }

  /** The wall of an operation that returned; None when it failed. */
  def timed(layerName: String, name: String)(f: => Any): Option[Double] = {
    val (r, secs) = op(layerName, name)(f)
    r.map(_ => secs)
  }

  /** An output check; a failed check is a failed operation. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1; correct = false
      failures += s"check $name: $detail"
      System.err.println(s"[e2ebench] CHECK FAILED: $name: $detail")
    }
  }

  /** A check on an operation's result; it fails when the operation did. */
  def checkOn[T](r: Option[T], name: String)(ok: T => Boolean)(detail: T => String): Unit =
    check(name, r.exists(ok), r.fold("its operation failed")(detail))

  def put(name: String, v: Double): Unit = layer(name) = v

  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p.getParent); p.toString
  }
}

object Pipelines {

  private def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)

  /** Order-free fingerprint of (ticker, t, close cents, volume) rows: the
    * row count and a sum of per-row hashes mod 2^31-1, computed the same way
    * over a table (in Spark) and over generated bars (here).
    */
  private val P = 2147483647L

  private def silverFingerprint(spark: SparkSession, path: String): (Long, Long) = {
    val h = pmod(crc32(col("ticker").cast("binary")) * 1000003L + col("t"), lit(P))
    val h2 = pmod(h * 31 + round(col("c") * 100).cast("long") * 7 + col("v").cast("long"), lit(P))
    val r = spark.read.parquet(path).agg(count(lit(1)), coalesce(sum(h2), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def expectedFingerprint(rows: Iterator[(String, Gen.Bar)]): (Long, Long) = {
    var n = 0L; var acc = 0L
    val crcs = mutable.HashMap.empty[String, Long]
    rows.foreach { case (sym, b) =>
      val crc = crcs.getOrElseUpdate(sym, {
        val c = new java.util.zip.CRC32(); c.update(sym.getBytes("UTF-8")); c.getValue
      })
      val h = Math.floorMod(crc * 1000003L + b.t, P)
      acc += Math.floorMod(h * 31 + b.c * 7 + b.v, P)
      n += 1
    }
    (n, acc)
  }

  // ---- market_batch -------------------------------------------------------

  def marketBatch(ctx: Ctx, iter: Int): Unit = {
    val spark = ctx.spark
    val rng = Gen.rng(ctx.seed, iter.toLong, 3L)
    val tree = new Gen.MarketTree(ctx.work.resolve(s"mb$iter/pages"), ctx.seed + iter,
      Sizes.stocks, Sizes.others)
    // the trading days, then one page served again (at-least-once delivery)
    (0 until Sizes.days).foreach(_ => tree.addDay())
    tree.reserve(rng)
    tree.writeDims(rng)
    val pages = tree.root.toString
    val wh = ctx.dir(s"mb$iter/wh")
    val silver = s"$wh/silver/bars"

    val backfillS = ctx.probe.phase("backfill") {
      ctx.timed("app", "Backfill.run")(Backfill.run(spark, pages, wh))
    }
    val exp = expectedFingerprint(tree.stocks.iterator.flatMap(t =>
      tree.distinctBars(t.symbol).iterator.map(b => t.symbol -> b)))
    lazy val got = silverFingerprint(spark, silver)
    ctx.checkOn(backfillS, "silver holds exactly the distinct stocks bars")(_ => got == exp)(
      _ => s"silver (rows, hash sum) $got != generated $exp")
    backfillS.foreach { s =>
      ctx.sample("backfill_s", s)
      ctx.ingestRows += exp._1
      ctx.ingestSecs += s
    }
    checkGold(ctx, tree, wh, backfillS.isDefined)

    // seeded one-hour box reads
    val boxes = (0 until Sizes.boxReads).map { _ =>
      val t = tree.stocks(rng.nextInt(tree.stocks.size)).symbol
      val from = Gen.t0 + rng.nextInt(Sizes.days) * Gen.dayMs + rng.nextInt(Gen.minutesPerDay - 30) * 60000L
      (t, from, from + 59 * 60000L)
    }
    val lat = mutable.ArrayBuffer.empty[Double]
    ctx.probe.phase("box_read") {
      boxes.foreach { case (t, from, to) =>
        val (rows, s) = ctx.op("app", "Backfill.readBarsBox")(
          Backfill.readBarsBox(spark, wh, t, from, to).select("t").collect().map(_.getLong(0)))
        if (rows.isDefined) { lat += s * 1000; ctx.readMs += s * 1000 }
        val exp = tree.distinctBars(t).map(_.t).filter(x => x >= from && x <= to)
        ctx.checkOn(rows, "box read returns exactly its bars")(_.sorted.toSeq == exp)(
          got => s"$t [$from, $to]: ${got.length} rows, expected ${exp.size}")
      }
    }
    if (lat.nonEmpty) ctx.sample("box_read_p50_ms", median(lat.toSeq))

    ctx.probe.phase("backtest") {
      val events = spark.read.parquet(silver).select(col("ticker").as("user_id"),
        col("datetime").as("ts"), col("t").as("event_id"), col("c").as("value"))
      val (res, s) = ctx.op("operators", "MarketOps.backtestSummary")(
        MarketOps.backtestSummary(events, 5, 20).select("user_id").collect().map(_.getString(0)))
      if (res.isDefined) ctx.sample("backtest_s", s)
      ctx.checkOn(res, "backtest returns one row per stocks ticker")(
        _.toSeq.sorted == tree.stocks.map(_.symbol).sorted)(
        ids => s"${ids.length} rows for ${tree.stocks.size} stocks tickers")
      ctx.timed("operators", "Indicators.enrich")(
        Indicators.enrich(spark.read.parquet(s"$wh/gold/bars_5m"), time = "bucket")
          .write.format("noop").mode("overwrite").save())
        .foreach(ctx.sample("indicators_s", _))
    }

    if (ctx.probe.tracing) batchLayers(ctx, tree, wh, boxes)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  private def checkGold(ctx: Ctx, tree: Gen.MarketTree, wh: String, written: Boolean): Unit = {
    def buckets(ms: Long) = tree.stocks.map(t =>
      tree.distinctBars(t.symbol).map(_.t / ms).distinct.size.toLong).sum
    Seq("bars_5m" -> 300000L, "bars_1h" -> 3600000L, "bars_1d" -> Gen.dayMs).foreach {
      case (name, ms) =>
        val exp = buckets(ms)
        val got = if (written) Some(ctx.spark.read.parquet(s"$wh/gold/$name").count()) else None
        ctx.checkOn(got, s"gold $name bucket count")(_ == exp)(g => s"$g buckets, expected $exp")
    }
  }

  /** Traced run only: per-layer figures for the batch path. */
  private def batchLayers(ctx: Ctx, tree: Gen.MarketTree, wh: String,
                          boxes: Seq[(String, Long, Long)]): Unit = {
    val spark = ctx.spark
    val pages = tree.root.toString
    val silver = s"$wh/silver/bars"
    val idx = s"$wh/silver/bars_index"
    val ph = Set("backfill")
    ctx.probing = true
    try ctx.probe.phase("layers") {
      ctx.timed("sources", "PolygonSource scan")(
        spark.read.format("polygon").option("path", pages).load()
          .write.format("noop").mode("overwrite").save()).foreach { scanS =>
        val rowsOut = spark.read.format("polygon").option("path", pages).load().count()
        ctx.put("sources.scan_s", scanS)
        ctx.put("sources.bars_per_s", rowsOut / scanS)
        ctx.put("sources.overlap_drop_ratio", rowsOut.toDouble / tree.servedBars)
      }
      ctx.timed("app", "Backfill.refreshDims")(
        Backfill.refreshDims(spark, pages, ctx.dir("mb-dims/wh")))
        .foreach(ctx.put("sources.dim_refresh_s", _))

      ctx.put("core.silver_append_s", ctx.probe.writeSeconds(ph, _.endsWith("/silver/bars")))
      ctx.put("core.gold_write_s", ctx.probe.writeSeconds(ph, _.contains("/gold/")))
      ctx.put("core.compact_s", ctx.probe.writeSeconds(ph, _.contains("._compact")))
      ctx.put("core.index_s", ctx.probe.writeSeconds(ph, _.endsWith("/silver/bars_index")))
      // bytes the backfill wrote (silver, gold, index) per byte of silver
      ctx.put("core.write_amp", ctx.probe.outputBytes("backfill") /
        math.max(1L, dirBytes(Path.of(silver))).toDouble)

      // the median call in ms, when every call returned
      def medianMs(xs: Seq[Option[Double]]): Option[Double] =
        if (xs.forall(_.isDefined)) Some(median(xs.flatten) * 1000) else None
      medianMs(boxes.map { _ =>
        ctx.timed("core", "index freshness check")(
          spark.read.parquet(idx).count() == Sinks.dataFileCount(spark, silver))
      }).foreach(ctx.put("core.index_check_ms", _))
      medianMs(boxes.map { case (t, a, b) =>
        ctx.timed("core", "Layout.prunedRead")(Layout.prunedRead(spark, silver, idx,
          Map("ticker" -> (t, t), "t" -> (a, b))).count())
      }).foreach(ctx.put("core.pruned_read_ms", _))
      val kept = boxes.map { case (t, a, b) =>
        val (k, n) = Layout.pruneStats(spark, idx, Map("ticker" -> (t, t), "t" -> (a, b)))
        k.toDouble / math.max(1L, n)
      }
      ctx.put("core.files_kept_ratio", kept.sum / kept.size)

      val silverDf = spark.read.parquet(silver).withColumn("vwv", col("vw") * col("v"))
      ctx.timed("operators", "MarketOps.refoldBars ladder") {
        val keys = Seq("ticker", "adjusted"); val sums = Seq("v", "n", "vwv")
        val b5 = MarketOps.refoldBars(silverDf, "5 minutes", keys, "datetime", sums).cache()
        val b1h = MarketOps.refoldBars(b5, "1 hour", keys, "bucket", sums).cache()
        val b1d = MarketOps.refoldBars(b1h, "1 day", keys, "bucket", sums)
        Seq(b5, b1h, b1d).foreach(_.write.format("noop").mode("overwrite").save())
        b5.unpersist(); b1h.unpersist()
      }.foreach(ctx.put("operators.gold_ladder_s", _))
    } finally ctx.probing = false
  }

  // ---- market_live --------------------------------------------------------

  /** Which page of a series an offset JSON says is read: "T|minute|1|adjusted":n. */
  private def offsets(json: String): Map[String, Int] =
    "\"([^\"|]+)\\|[^\"]*\":(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toInt).toMap

  private def batchEndMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  def marketLive(ctx: Ctx, iter: Int): Unit = {
    val spark = ctx.spark
    val tree = new Gen.LiveTree(ctx.work.resolve(s"ml$iter/pages"), ctx.seed + iter,
      Sizes.liveStocks, Sizes.liveBarsPerPage)
    tree.tickers.foreach(t => tree.writeNext(t.symbol)) // warm-up pages
    val wh = ctx.dir(s"ml$iter/wh")
    val due = mutable.ArrayBuffer.empty[(String, Int, Long)] // (ticker, page, due ms)
    val late = mutable.ArrayBuffer.empty[Double]

    ctx.probe.phase("live") {
      val (qOpt, _) = ctx.op("app", "LiveIngest.start")(LiveIngest.start(spark, tree.root.toString,
        wh, Trigger.ProcessingTime(Sizes.liveTriggerMs)))
      qOpt.foreach { q =>
        try {
          // warm-up: the first batch reads the initial pages; the open loop
          // starts once it has committed
          val warmDeadline = System.currentTimeMillis() + 60000L
          while (ctx.probe.progressOf(q.id).forall(_.numInputRows == 0) &&
                 System.currentTimeMillis() < warmDeadline && q.isActive) Thread.sleep(20)
          val n = (Sizes.livePagesPerSec * Sizes.liveSeconds).toInt
          val start = System.currentTimeMillis() + 200
          val syms = tree.tickers.map(_.symbol)
          (0 until n).foreach { k =>
            val d = start + (k * 1000.0 / Sizes.livePagesPerSec).toLong
            val wait = d - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            val sym = syms(k % syms.size)
            val i = tree.writeNext(sym)
            late += (System.currentTimeMillis() - d).toDouble
            due += ((sym, i, d))
          }
          // wait until every page is covered by a committed batch
          val last = tree.written.toMap
          val doneDeadline = System.currentTimeMillis() + 60000L
          def covered = ctx.probe.progressOf(q.id).lastOption.exists { p =>
            val o = offsets(p.sources.head.endOffset)
            last.forall { case (s, k) => o.getOrElse(s, 0) >= k }
          }
          while (!covered && System.currentTimeMillis() < doneDeadline && q.isActive) Thread.sleep(20)
          ctx.check("live stream covers every page", covered, "pages left unread at deadline")
        } finally {
          q.stop()
        }
        val prog = ctx.probe.progressOf(q.id).filter(_.numInputRows > 0)
        val warm = prog.headOption.map(_.batchId).getOrElse(-1L)
        val cover = prog.map(p => (p.batchId, offsets(p.sources.head.endOffset), batchEndMs(p)))
        val fresh = due.flatMap { case (s, i, d) =>
          cover.find(_._2.getOrElse(s, 0) > i).filter(_._1 != warm).map(c => (c._3 - d).toDouble)
        }
        ctx.check("every live page has a freshness sample", fresh.size == due.size,
          s"${fresh.size} of ${due.size} pages timed")
        if (fresh.nonEmpty) {
          ctx.sample("live_fresh_p50_ms", Stats.quantile(fresh.toSeq, 0.5))
          ctx.sample("live_fresh_p99_ms", Stats.quantile(fresh.toSeq, 0.99))
          ctx.visibleMs ++= fresh
        }
        checkLive(ctx, wh, tree.distinctBarCount, ran = true)
        if (ctx.probe.tracing) streamLayers(ctx, prog, late.toSeq)
      }
      if (qOpt.isEmpty) {
        Seq("live stream covers every page", "every live page has a freshness sample")
          .foreach(ctx.check(_, ok = false, "LiveIngest.start failed"))
        checkLive(ctx, wh, tree.distinctBarCount, ran = false)
      }
    }

    // catch-up: AvailableNow drains a pre-generated backlog
    val backlog = new Gen.LiveTree(ctx.work.resolve(s"ml$iter/backlog"), ctx.seed + iter + 7,
      Sizes.liveStocks, Sizes.liveBarsPerPage)
    for (_ <- 0 until Sizes.backlogPages; t <- backlog.tickers) backlog.writeNext(t.symbol)
    val wh2 = ctx.dir(s"ml$iter/wh2")
    ctx.probe.phase("catchup") {
      val (qOpt, s) = ctx.op("app", "LiveIngest.start AvailableNow") {
        val q = LiveIngest.start(spark, backlog.root.toString, wh2)
        q.awaitTermination()
        q
      }
      checkLive(ctx, wh2, backlog.distinctBarCount, ran = qOpt.isDefined)
      qOpt.foreach { q =>
        ctx.sample("live_catchup_bars_per_s", backlog.distinctBarCount / s)
        ctx.ingestRows += backlog.distinctBarCount
        ctx.ingestSecs += s
        if (ctx.probe.tracing)
          ctx.put("streaming.catchup_batches",
            ctx.probe.progressOf(q.id).count(_.numInputRows > 0).toDouble)
      }
    }
  }

  private def checkLive(ctx: Ctx, wh: String, expected: Long, ran: Boolean): Unit = {
    val counts = if (!ran) None else {
      val r = ctx.spark.read.parquet(s"$wh/silver/bars_live")
        .agg(count(lit(1)), countDistinct(col("ticker"), col("t"))).head()
      Some((r.getLong(0), r.getLong(1)))
    }
    ctx.checkOn(counts, "bars_live is exactly-once")(_ == ((expected, expected)))(
      c => s"${c._1} rows, ${c._2} distinct, expected $expected")
  }

  private def streamLayers(ctx: Ctx, prog: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                           late: Seq[Double]): Unit = {
    val steady = prog.drop(1)
    def dur(k: String) = steady.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    def p50(k: String) = if (dur(k).isEmpty) 0.0 else median(dur(k))
    ctx.put("sources.latest_offset_ms_p50", p50("latestOffset"))
    ctx.put("streaming.trigger_ms_p50", p50("triggerExecution"))
    ctx.put("streaming.add_batch_ms_p50", p50("addBatch"))
    ctx.put("streaming.planning_ms_p50", p50("queryPlanning"))
    ctx.put("streaming.commit_ms_p50", p50("commitOffsets"))
    ctx.put("streaming.trigger_ms_max", (0.0 +: dur("triggerExecution")).max)
    val ops = prog.flatMap(_.stateOperators)
    ctx.put("streaming.state_rows", (0L +: ops.map(_.numRowsTotal)).max.toDouble)
    ctx.put("streaming.state_bytes", (0L +: ops.map(_.memoryUsedBytes)).max.toDouble)
    ctx.put("streaming.late_rows_dropped", ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
    ctx.put("gen.late_ms_p99", if (late.isEmpty) 0.0 else Stats.quantile(late, 0.99))
  }

  // ---- corpus_drops -------------------------------------------------------

  def corpus(ctx: Ctx, iter: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val cg = new Gen.CorpusGen(ctx.seed + iter, Sizes.dupFrac)
    val wh = ctx.dir(s"cd$iter/wh")

    // a drop's wall counts only when it returned; a pair check fails when
    // one of the drops it covers failed
    def drop(call: String)(f: => (Long, Long)): Option[Double] = {
      val (r, s) = ctx.op("app", call)(f)
      r.map { case (nNew, _) =>
        ctx.visibleMs += s * 1000
        ctx.ingestSecs += s
        ctx.ingestRows += nNew
        s
      }
    }
    // the stored pair tables (absent when the drop that creates them failed)
    def pairsIn(table: String, a: String, b: String): Set[(Long, Long)] =
      if (!Files.exists(Path.of(s"$wh/corpus/$table"))) Set.empty
      else spark.read.parquet(s"$wh/corpus/$table").select(a, b).as[(Long, Long)].collect().toSet
    def checkPairs(name: String, ran: Seq[Option[Double]], planted: Seq[(Long, Long)],
                   stored: => Set[(Long, Long)]): Unit = {
      val missing = if (ran.forall(_.isDefined))
        Some(planted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.filterNot(stored))
      else None
      ctx.checkOn(missing, name)(_.isEmpty)(
        m => s"${m.size} of ${planted.size} planted copies missing")
    }

    val textDrops = ctx.probe.phase("text_drop") {
      (0 until Sizes.textDrops).map { _ =>
        val df = cg.textDrop(Sizes.dropSize).map(d => (d.id, d.text)).toDF("doc_id", "text")
        drop("CorpusIngest.run")(CorpusIngest.run(spark, df, wh))
      }
    }
    if (textDrops.forall(_.isDefined)) ctx.sample("text_drop_p50_s", median(textDrops.flatten))
    checkPairs("every planted verbatim text copy is a pair", textDrops, cg.verbatimText.toSeq,
      pairsIn("pairs", "doc_a", "doc_b"))

    val embDrops = ctx.probe.phase("emb_drop") {
      Seq("emb_first_drop_s", "emb_drop_s").map { metric =>
        val df = cg.vecDrop(Sizes.dropSize).map(v => (v.id, v.v)).toDF("vec_id", "embedding")
        val r = drop("CorpusIngest.ingestEmbeddings")(CorpusIngest.ingestEmbeddings(spark, df, wh))
        r.foreach(ctx.sample(metric, _))
        r
      }
    }
    checkPairs("every planted verbatim vector copy is a pair", embDrops, cg.verbatimVec.toSeq,
      pairsIn("emb_pairs", "vec_a", "vec_b"))

    // the export chain once, then its three reads again: each read round
    // times survivors, readExport and exportIntegrity and checks them. A
    // round's read latency is the sum of its three calls: the three differ
    // in cost, and a median over the calls themselves would jump between
    // them from run to run
    val reads = mutable.LinkedHashMap(
      "app.survivors_s" -> mutable.ArrayBuffer.empty[Double],
      "app.read_export_s" -> mutable.ArrayBuffer.empty[Double],
      "app.integrity_s" -> mutable.ArrayBuffer.empty[Double])
    def read[T](key: String, call: String)(f: => T): (Option[T], Option[Double]) = {
      val (r, s) = ctx.op("app", call)(f)
      if (r.isDefined) reads(key) += s
      (r, r.map(_ => s))
    }
    val chain = mutable.ArrayBuffer.empty[Option[Double]] // the first round's walls
    ctx.probe.phase("export") {
      val (nSurv, s1) = read("app.survivors_s", "CorpusIngest.survivors")(
        CorpusIngest.survivors(spark, wh).count())
      val s2 = ctx.timed("app", "CorpusIngest.snapshotCorpus")(CorpusIngest.snapshotCorpus(spark, wh))
      val (ts, s3) = ctx.op("app", "CorpusIngest.exportCorpus")(
        CorpusIngest.exportCorpus(spark, wh, System.currentTimeMillis(), 4))
      chain ++= Seq(s1, s2, ts.map(_ => s3))
      s2.filter(_ => ts.isDefined).foreach(s => ctx.put("app.export_s", s + s3))
      (0 until Sizes.readRounds).foreach { round =>
        val sSurv = if (round == 0) s1 else
          read("app.survivors_s", "CorpusIngest.survivors")(CorpusIngest.survivors(spark, wh).count())._2
        val (nRead, s4) = ts.fold((Option.empty[Long], Option.empty[Double]))(t =>
          read("app.read_export_s", "CorpusIngest.readExport")(
            CorpusIngest.readExport(spark, wh, t).count()))
        val (integ, s5) = ts.fold((Option.empty[Array[org.apache.spark.sql.Row]], Option.empty[Double]))(t =>
          read("app.integrity_s", "CorpusIngest.exportIntegrity")(
            CorpusIngest.exportIntegrity(spark, wh, t).collect()))
        if (round == 0) chain ++= Seq(s4, s5)
        for (a <- sSurv; b <- s4; c <- s5) ctx.readMs += (a + b + c) * 1000
        ctx.checkOn(nRead, "readExport returns every survivor")(n => nSurv.contains(n))(
          n => s"readExport $n rows, survivors $nSurv")
        def bad(rows: Array[org.apache.spark.sql.Row]) =
          rows.filter(r => r.getAs[Long]("n_manifest") != r.getAs[Long]("n_live") ||
            r.getAs[Long]("fp_manifest") != r.getAs[Long]("fp_live"))
        ctx.checkOn(integ, "exportIntegrity is clean")(rows => rows.nonEmpty && bad(rows).isEmpty)(
          rows => s"${bad(rows).length} of ${rows.length} shards differ")
      }
    }
    if (chain.forall(_.isDefined)) ctx.sample("export_s", chain.flatten.sum)
    if (ctx.probe.tracing) {
      reads.foreach { case (k, v) => if (v.nonEmpty) ctx.put(k, median(v.toSeq)) }
      corpusLayers(ctx, wh)
    }
  }

  /** Traced run only: candidate and lease figures from the stored tables. */
  private def corpusLayers(ctx: Ctx, wh: String): Unit = {
    val spark = ctx.spark
    ctx.probing = true
    try ctx.probe.phase("layers") {
      // (band, bucket) occupancy → candidate pairs the band join produces
      def candidates(store: String, code: String): (Double, Double) = {
        val occ = spark.read.parquet(s"$wh/corpus/$store")
          .groupBy(col("band"), col(code)).agg(count(lit(1)).as("n"))
        val r = occ.agg(sum(col("n") * (col("n") - 1) / 2), max(col("n"))).head()
        (if (r.isNullAt(0)) 0.0 else r.getDouble(0), if (r.isNullAt(1)) 0.0 else r.getLong(1).toDouble)
      }
      def rows(store: String) =
        if (!Files.exists(Path.of(s"$wh/corpus/$store"))) 0L
        else spark.read.parquet(s"$wh/corpus/$store").count()
      val (tc, tmax) = candidates("bands", "sig")
      ctx.put("operators.text_candidates", tc)
      ctx.put("operators.text_pair_yield", if (tc > 0) rows("pairs") / tc else 0.0)
      ctx.put("operators.max_bucket_occupancy", tmax)
      val (ec, _) = candidates("emb_bands", "code")
      ctx.put("operators.emb_candidates", ec)
      ctx.put("operators.emb_pair_yield", if (ec > 0) rows("emb_pairs") / ec else 0.0)
      val lease = (0 until 5).map(_ =>
        ctx.timed("core", "WarehouseLease.withWriteLease")(WarehouseLease.withWriteLease(spark, wh)(())))
      if (lease.forall(_.isDefined)) ctx.put("core.lease_ms", median(lease.flatten) * 1000)
      ctx.put("core.store_files", Seq("bands", "shingles", "documents", "pairs", "emb_bands", "emb_vecs")
        .map(s => Sinks.dataFileCount(spark, s"$wh/corpus/$s")).sum.toDouble)
    } finally ctx.probing = false
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
