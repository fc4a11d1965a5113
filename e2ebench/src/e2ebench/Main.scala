package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** End-to-end benchmark of the engine's three shipped uses: market
  * back-data (Backfill), live data (LiveIngest) and at-least-once corpus
  * drops (CorpusIngest). One run builds the session the production mains
  * build, generates seeded inputs, repeats the workload's passes for the
  * requested seconds, checks every output, and prints one JSON line.
  *
  *   e2ebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --spec BENCHMARK.json --manifest e2ebench/manifest.json
  *                 --work <work dir> [--traces <dir>]
  */
object Main {

  /** The workloads: which pipelines one pass drives. */
  val workloads: Map[String, Seq[(Ctx, Int) => Unit]] = Map(
    "market" -> Seq(Pipelines.marketBatch, Pipelines.marketLive),
    "corpus_drops" -> Seq(Pipelines.corpus))

  val phases: Seq[String] = Seq("backfill", "box_read", "backtest", "live",
    "catchup", "text_drop", "emb_drop", "export")

  /** The session every production main builds (Backfill, LiveIngest,
    * CorpusIngest): local[cores], one shuffle partition per core, UTC, no
    * UI. Scratch locations point into the run's own directory.
    */
  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()

  /** `name -> unit` of one metric list of BENCHMARK.json. */
  private def metricList(spec: JsonNode, key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val pipelines = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)
    // metric names and units come from BENCHMARK.json; the failures the
    // parent commit shows, from the manifest
    val mapper = new ObjectMapper()
    val spec = mapper.readTree(new java.io.File(opts("spec")))
    val known = mapper.readTree(new java.io.File(opts("manifest")))
      .get("known_baseline_failures").elements().asScala.filter(_.has("match"))
      .map(k => KnownFailure(k.get("operation").asText, k.get("match").asText)).toSeq

    // set-up: build the session and make a first call into the engine (a
    // PolygonSource scan of one page) three times; the first is cold
    val first = new Gen.MarketTree(work.resolve("setup/pages"), seed, 1, 0)
    first.addDay()
    val setups = mutable.ArrayBuffer.empty[Double]
    var coldS = 0.0
    var spark: SparkSession = null
    (0 until 3).foreach { i =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val n = spark.read.format("polygon").option("path", first.root.toString).load().count()
      require(n == first.servedBars, s"set-up scan read $n bars, expected ${first.servedBars}")
      setups += (System.nanoTime() - t0) / 1e9
      if (i == 0) coldS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    }
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[e2ebench] set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s; " +
      f"JVM start to end of first set-up $coldS%.1f s")

    val probe = new Probe(spark, tracing)
    val ctx = new Ctx(spark, probe, work, seed, cores, known)
    val t0 = System.nanoTime()
    var iter = 0
    while (iter == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      pipelines.foreach(p => p(ctx, iter))
      iter += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    probe.close()

    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.quantile(xs.toSeq, 0.5)
    // the pipelines' own figures; a figure whose operation failed is absent
    val named = ctx.samples.map { case (k, v) => k -> med(v) }.toSeq :+
      ("failed_ops_frac" -> ctx.failed.toDouble / ctx.attempted)
    val units = (metricList(spec, "end_to_end") ++ metricList(spec, "per_layer")).toMap
    named.foreach { case (k, v) =>
      System.err.println(f"[e2ebench] $k%-24s ${num(v)}%s ${units.getOrElse(k, "?")}")
    }
    // every pass's calls count; a run of several passes reports per pass
    val workS = ctx.workSecs / iter
    val produced: Seq[(String, Double)] =
      if (!tracing) Seq(
        "setup_s" -> Stats.quantile(setups.toSeq, 0.5),
        "work_s" -> workS,
        "visible_p50_ms" -> med(ctx.visibleMs),
        "read_p50_ms" -> med(ctx.readMs),
        "ingest_rows_per_s" -> (if (ctx.ingestSecs > 0) ctx.ingestRows / ctx.ingestSecs else 0.0),
        "ok_ops_frac" -> (ctx.attempted - ctx.failed).toDouble / ctx.attempted)
      else {
        val tracePath = Paths.get(opts.getOrElse("traces", work.resolve("traces").toString))
          .toAbsolutePath.resolve(s"$workload-seed$seed.jsonl")
        val summary = probe.writeTrace(tracePath, s"""{"workload":"$workload","seed":$seed}""")
        System.err.println(s"[e2ebench] trace: $tracePath")
        summary.foreach(l => System.err.println(s"[e2ebench] $l"))
        Seq("trace.work_s" -> workS, "setup.cold_s" -> coldS) ++ named ++ ctx.layer ++
          phases.flatMap(p => probe.phaseMetrics(p, cores))
      }
    // every listed metric is printed; one this workload does not measure,
    // or whose operation failed, reads 0
    val wanted = metricList(spec, if (tracing) "per_layer" else "end_to_end")
    val unlisted = produced.map(_._1).filterNot(wanted.map(_._1).toSet)
    require(unlisted.isEmpty, s"metrics not listed in BENCHMARK.json: ${unlisted.mkString(", ")}")
    val values = produced.toMap
    val unmeasured = if (tracing) Nil else wanted.map(_._1).filterNot(values.contains)
    require(unmeasured.isEmpty, s"end-to-end metrics not measured: ${unmeasured.mkString(", ")}")
    ctx.failures.foreach(f => System.err.println(s"[e2ebench] failure: $f"))
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"[e2ebench] $workload seed $seed: $iter passes in $wall%.1f s, " +
      f"${ctx.attempted} ops, ${ctx.failed} failed; JVM up $jvmS%.1f s before stop")
    spark.stop()

    val body = wanted.map { case (k, u) =>
      s""""$k": {"value": ${num(values.getOrElse(k, 0.0))}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${ctx.correct}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
