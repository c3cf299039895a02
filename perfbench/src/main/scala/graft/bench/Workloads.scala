package graft.bench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.CheckpointScope
import graft.Queries.DemoStrategy
import graft.dedup.Dedup
import graft.perf.Performance
import graft.pipeline.Backtest
import graft.sources.Sources
import graft.sources.Sources.{PriceQuery, ResultCache}
import graft.text.{Packing, Sampling, TextAnalysis}
import graft.trade.Trade

/** What one request returned. `tables` are collected on the driver;
  * `checked` are frames too large to collect, written out only when the
  * oracle replays the request. `oracle(full)` lists, for each output it
  * checks, the catalog query whose DuckDB SQL replays this request's
  * input and the table views it reads; `full` is false for the cheaper
  * replay some workloads use between their first and last request. */
final case class Output(
    tables: Seq[(String, Array[Row], StructType)],
    oracle: Boolean => Seq[Map[String, Any]],
    checked: Seq[(String, DataFrame)] = Nil)

/** One workload: inputs are the generated files under `in`; all state the
  * workload builds lives under `work`. Requests run closed loop, one at a
  * time, from one client. */
abstract class Workload(val spark: SparkSession, val t: Tracer, in: String, work: String) {
  /** Input items one request processes (panel sid-days, docs, …). */
  var items = 0L
  /** Untimed requests after setup: where the steep part of the JIT
    * warm-up ends on the 4-core reference host. The measured walls behind
    * each count are in perfbench/README.md (Warm-up). */
  def warmupRequests: Int
  /** Publish, index and fill caches from the generated inputs. */
  def setup(): Unit
  /** Untimed per-request step, e.g. the data feed delivering a new day. */
  def prepare(): Unit = ()
  /** One request. */
  def request(): Output
  /** False once the generated inputs are used up. */
  def hasNext: Boolean = true
  /** How requests between the first and last are checked: `same_as_first`
    * (same input, so the same output), `oracle` (a cheap replay) or
    * `simhash_reference` (the checker's own replay of the dd29 oracle). */
  def between: String = "same_as_first"

  protected def read(p: String): DataFrame = spark.read.parquet(p)
  protected def inPath(p: String): String = new File(in, p).getAbsolutePath
  protected def workPath(p: String): String = new File(work, p).getAbsolutePath
  protected def table(name: String, df: DataFrame): (String, Array[Row], StructType) =
    (name, df.collect(), df.schema)
  protected def parquetView(p: String, where: String = ""): String =
    s"SELECT * FROM read_parquet('$p${if (new File(p).isDirectory) "/*.parquet" else ""}')" +
      (if (where.isEmpty) "" else s" WHERE $where")
}

object Workload {
  def apply(name: String, spark: SparkSession, t: Tracer, in: String, work: String): Workload =
    name match {
      case "backtest_eod" => new BacktestEod(spark, t, in, work)
      case "trade_live" => new TradeLive(spark, t, in, work)
      case "curate_batch" => new CurateBatch(spark, t, in, work)
      case "dedup_ingest" => new DedupIngest(spark, t, in, work)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  private[bench] def bytesUnder(dir: String, since: Long = 0L): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_))
        .filter(Files.getLastModifiedTime(_).toMillis >= since)
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private[bench] def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}

/** Shared by the two price workloads: a cached price fetch whose cache
  * hits and writes are counted (in traced requests) from the cache dir. */
trait PriceCache { self: Workload =>
  def cacheDir: String
  lazy val cache = new ResultCache(spark, cacheDir)

  def cachedPrices(panel: String, q: PriceQuery): DataFrame = {
    val t0 = System.currentTimeMillis()
    val df = t.frame("sources")(Sources.cachedPrices(spark, panel, q, cache))
    if (t.active) {
      val written = Workload.bytesUnder(cacheDir, t0)
      t.note("sources.calls", 1)
      t.note("sources.hits", if (written == 0) 1 else 0)
      t.note("sources.cache_write_mb", written / 1048576.0)
    }
    df
  }
}

/** The researcher loop: bounded price query (a cache hit), the demo
  * backtest, a tearsheet, and the results collected as a digest. */
final class BacktestEod(spark: SparkSession, t: Tracer, in: String, work: String)
    extends Workload(spark, t, in, work) with PriceCache {
  val cacheDir = workPath("cache")
  private val panel = workPath("panel")
  private var query = PriceQuery()
  val warmupRequests = 4

  def setup(): Unit = {
    read(inPath("lineitem.parquet"))
      .groupBy(col("l_suppkey").as("sid"), to_date(col("l_shipdate")).as("date"))
      .agg(max(col("l_extendedprice")).as("close"))
      .write.parquet(panel)
    val b = read(panel).agg(min("date"), max("date"), count(lit(1))).head()
    query = PriceQuery(startDate = Some(b.get(0).toString), endDate = Some(b.get(1).toString))
    items = b.getLong(2)
    cachedPrices(panel, query).count()
  }

  def request(): Output = {
    val prices = cachedPrices(panel, query)
    val melt = t.frame("pipeline")(Backtest.run(DemoStrategy, prices))
    // moonshot hands the researcher an in-memory results frame; the
    // tearsheet and the digest all read that one copy
    val results = if (t.active) melt else melt.persist()
    val digest = results.agg(count(lit(1)).as("rows"),
      sum(xxhash64(results.columns.map(col): _*).cast("decimal(38,0)")).as("hash"))
    val lineitem = Map("lineitem" -> parquetView(inPath("lineitem.parquet")))
    Output(
      Seq(table("melt_digest", digest),
        table("daily", t.frame("perf")(Performance.dailySeries(results))),
        table("summary", t.frame("perf")(Performance.summary(results))),
        table("drawdowns", t.frame("perf")(Performance.drawdowns(results)))),
      _ => Seq("melt" -> "backtest_pipeline", "daily" -> "perf_daily",
        "summary" -> "perf_summary", "drawdowns" -> "perf_drawdowns").map {
        case (output, query) => Map("query" -> query, "output" -> output,
          "views" -> lineitem,
          // the catalog's perf_* queries damp Return ×0.001 because TPC-H
          // prices swing 20× a day; the generated panel moves ~1.5% a day
          // and the tearsheet reads it undamped, so the oracle drops the
          // damping (the backtest_pipeline oracle has none to drop)
          "replace" -> (if (query == "backtest_pipeline") Nil
            else Seq(Seq("(coalesce(gross, 0.0) * 0.001)", "coalesce(gross, 0.0)"))))
      },
      Seq("melt" -> results))
  }
}

/** The live loop: the feed appends one day as a new `date=` partition,
  * then an open-ended price query (a cache miss, rewritten) and
  * `Trade.run` for that day; the orders are collected. */
final class TradeLive(spark: SparkSession, t: Tracer, in: String, work: String)
    extends Workload(spark, t, in, work) with PriceCache {
  val cacheDir = workPath("cache")
  private val panel = workPath("panel")
  private val feed = Option(new File(inPath("feed")).listFiles).toSeq.flatten
    .map(_.getName).sorted
  private var next = 0
  val warmupRequests = 6
  private def day = feed(next - 1).stripPrefix("date=")

  private lazy val supplier = read(inPath("supplier.parquet"))
  // the live account state, as in the catalog's trade_full query
  private lazy val master = supplier.select(
    col("s_suppkey").as("sid"),
    when(col("s_suppkey") % 4 === 0, "JPY").otherwise("USD").as("currency"),
    lit("STK").as("secType"), lit(1.0).as("priceMagnifier"), lit(1.0).as("multiplier"))
  private lazy val allocations = spark.createDataFrame(Seq(
    ("U1", 0.6), ("U2", 0.4))).toDF("account", "allocation")
  private lazy val balances = spark.createDataFrame(Seq(
    ("U1", "USD", 1000000.0), ("U2", "EUR", 500000.0)))
    .toDF("account", "currency", "netLiquidation")
  private lazy val rates = spark.createDataFrame(Seq(
    ("USD", "JPY", 110.0), ("EUR", "USD", 1.1), ("EUR", "JPY", 121.0)))
    .toDF("baseCurrency", "quoteCurrency", "rate")
  private lazy val positions = supplier.where(col("s_suppkey") % 5 === 0)
    .select(col("s_suppkey").as("sid"), lit("U1").as("account"),
      round(col("s_acctbal") / 100).as("quantity"))
  private lazy val openOrders = supplier.where(col("s_suppkey") % 7 === 0)
    .select(col("s_suppkey").as("sid"), lit("U2").as("account"),
      lit("demo").as("orderRef"), round(col("s_acctbal") / 200).as("remaining"),
      when(col("s_suppkey") % 2 === 0, "BUY").otherwise("SELL").as("action"))

  private def query = PriceQuery(startDate = Some(day), lookbackBars = 60)

  def setup(): Unit = {
    Workload.copyTree(Paths.get(inPath("panel")), Paths.get(panel))
    items = read(inPath("supplier.parquet")).count()
    val last = new File(panel).list().max.stripPrefix("date=")
    cachedPrices(panel, PriceQuery(startDate = Some(last), lookbackBars = 60)).count()
  }

  override def hasNext: Boolean = next < feed.size
  override def between = "oracle"

  override def prepare(): Unit = {
    next += 1
    Workload.copyTree(Paths.get(inPath(s"feed/${feed(next - 1)}")),
      Paths.get(panel, feed(next - 1)))
  }

  def request(): Output = {
    val d = day
    val orders = t.frame("trade")(Trade.run(DemoStrategy, cachedPrices(panel, query),
      master, allocations, balances, rates, positions, openOrders, d,
      rebalance = Trade.RebalanceThreshold(0.25)))
    Output(Seq(table("orders", orders)), full => {
      // the oracle sees every bar up to the signal date on the first and
      // last request; in between only that day's bars, which decide the
      // orders alone, keep the check cheap
      val upTo = if (full) "<=" else "="
      Seq(Map("query" -> "trade_full", "output" -> "orders",
        "views" -> Map(
          "lineitem" -> parquetView(inPath("lineitem.parquet"),
            s"CAST(l_shipdate AS DATE) $upTo DATE '$d'"),
          "supplier" -> parquetView(inPath("supplier.parquet")))))
    })
  }
}

/** The `pipeline_curate` chain from public calls: near-duplicate
  * clusters, soft weights, exact decontamination, a token-budget
  * selection and sequence packing, inside one CheckpointScope. */
final class CurateBatch(spark: SparkSession, t: Tracer, in: String, work: String)
    extends Workload(spark, t, in, work) {
  private val docsPath = inPath("documents.parquet")
  val warmupRequests = 3

  def setup(): Unit = items = read(docsPath).count()

  def request(): Output = {
    val docs = read(docsPath)
    t.note("dedup.docs_in", items)
    // the corpus is written as at least one file per core, so the
    // catalog query's core-width spread of the scored frame never fires
    // here and is left out
    val packed = CheckpointScope.scoped(spark) { scope =>
      val pairs = t.frame("dedup")(Dedup.nearDuplicates(docs, threshold = 0.5))
      val clusters = t.frame("dedup")(Dedup.duplicateClusters(pairs))
      val weights = t.frame("dedup")(Dedup.softDedupWeights(docs, clusters))
        .select(col("doc_id"), col("weight"))
      val clean = t.frame("dedup")(Dedup.decontaminateExact(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 5))
      val scored = scope.checkpoint(clean.join(weights, Seq("doc_id")), eager = true)
      val kept = t.frame("text")(Sampling.selectByTokenBudget(scored, "doc_id",
        TextAnalysis.qualityScore(col("text")) * col("weight"),
        TextAnalysis.tokenCount(col("text")), budget = 5000))
      t.frame("text")(Packing.packSequences(kept, "doc_id", "text", budget = 512, shards = 8))
        .join(weights, Seq("doc_id"))
        .select(col("shard"), col("seq_id"), col("doc_id"), col("tok_in_seq"), col("weight"))
    }
    Output(Seq(table("packed", packed)), _ =>
      Seq(Map("query" -> "pipeline_curate", "output" -> "packed",
        "views" -> Map("documents" -> parquetView(docsPath)),
        // DuckDB re-evaluates a non-materialized CTE at every step of the
        // recursive closure over it; the hints change speed, not results
        "replace" -> Seq("sig", "edges", "clusters").map(c =>
          Seq(s"$c AS (", s"$c AS MATERIALIZED (")))))
  }
}

/** Incremental ingest: each request checks one single-file batch against
  * the published simhash index, then appends the admitted docs to it. */
final class DedupIngest(spark: SparkSession, t: Tracer, in: String, work: String)
    extends Workload(spark, t, in, work) {
  private val basePath = inPath("documents.parquet")
  private val baseFiles = new File(basePath).listFiles.map(_.getAbsolutePath)
    .filter(_.endsWith(".parquet")).sorted
  private val index = workPath("index")
  private val batches = Option(new File(inPath("batches")).listFiles).toSeq.flatten
    .map(_.getAbsolutePath).sorted
  private var next = 0
  private var baseDocs = 0L
  /** Batch docs appended to the index so far: the index holds the base
    * corpus plus these. */
  private val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var batchIds = Array.empty[Long]
  val warmupRequests = 3

  def setup(): Unit = {
    Dedup.writeSimhashIndex(index, read(basePath))
    baseDocs = read(basePath).count()
  }

  override def hasNext: Boolean = next < batches.size
  override def between = "simhash_reference"

  override def prepare(): Unit = {
    next += 1
    batchIds = read(batches(next - 1)).select("doc_id").collect().map(_.getLong(0))
    items = batchIds.length
  }

  def request(): Output = {
    val file = batches(next - 1)
    val lo = batchIds.min
    // the docs the index holds before this batch, plus the batch: the
    // input the check replays
    val files = (baseFiles ++ batches.take(next)).map(f => s"'$f'").mkString("[", ", ", "]")
    val view = s"SELECT * FROM read_parquet($files) WHERE doc_id < $baseDocs OR doc_id >= $lo" +
      (if (admitted.isEmpty) "" else s" OR doc_id IN (${admitted.mkString(",")})")
    t.note("dedup.docs_in", items)
    val batch = read(file)
    val out = table("pairs", t.frame("dedup")(
      Dedup.incrementalSimhashPairs(spark, index, batch, maxHamming = 3)))
    val dups = out._2.flatMap(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .filter(_ >= lo).toSet
    t.layer("dedup")(Dedup.appendToSimhashIndex(index,
      batch.where(!col("doc_id").isin(dups.toSeq: _*))))
    admitted ++= batchIds.filterNot(dups)
    if (t.active)
      t.note("dedup.index_bytes_per_doc",
        Workload.bytesUnder(index).toDouble / (baseDocs + admitted.size))
    Output(Seq(out), _ => Seq(Map("query" -> "dd29_incremental_simhash",
      "output" -> "pairs", "views" -> Map("documents" -> view),
      // the catalog oracle marks its batch as doc_id >= 400
      "replace" -> Seq(Seq("doc_id >= 400", s"doc_id >= $lo")),
      "batch_from" -> lo)))
  }
}
