package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Runs one workload for a fixed time and writes what the checker needs.
  *
  * {{{
  * Main --workload <name> --inputs <dir> --out <dir> --seconds <s> --trace <0|1>
  * }}}
  *
  * `inputs` holds the generated files. The workload is set up once, then
  * runs its `warmupRequests` untimed (full collections after the first,
  * for `live_heap_mb`), then is measured, closed loop, until
  * `seconds` have passed. With `--trace 1` the first 40% of the time runs untraced
  * requests and the rest traced ones, so the trace overhead is measured
  * in the same process. Writes `out/run.json` and each request's outputs
  * under `out/outputs/<name>/request=<i>/`.
  */
object Main {
  private val MB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val out = new File(opt("out")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(s"$out/work")
    val tracer = new Tracer(spark, trace)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val wl = Workload(name, spark, tracer, opt("inputs"), s"$out/work")
    val setupStart = System.nanoTime()
    wl.setup()
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val warmupS = mutable.ArrayBuffer.empty[Double]
    var liveHeapMb = 0.0
    while (warmupS.size < wl.warmupRequests) {
      wl.prepare()
      val t0 = System.nanoTime()
      wl.request()
      warmupS += (System.nanoTime() - t0) / 1e9
      if (warmupS.size == 1) {
        // live_heap_mb: what a request holds once the garbage is gone,
        // its persisted frames included. The rest of the warm-up absorbs
        // the heap's regrowth after the collections, which would slow
        // the first timed request.
        liveHeapMb = collectedHeapMb()
      }
      release(spark)
    }
    // setup_s ends here: JVM start to the first timed request
    val toFirstRequestS = (System.currentTimeMillis() - jvmStart) / 1e3

    val requests = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tables = mutable.LinkedHashMap.empty[String, (StructType, mutable.ArrayBuffer[Row])]
    def dump(i: Int, o: Output): Unit = o.checked.foreach { case (n, df) =>
      df.write.parquet(s"$out/outputs/$n/request=$i")
    }
    val start = System.nanoTime()
    var deadline = start + (seconds * 1e9).toLong
    val untracedUntil = start + (seconds * 0.4e9).toLong
    var last: Option[(Int, Output)] = None
    var i = 0
    // a traced run needs at least one untraced and one traced request
    while ((System.nanoTime() < deadline || (trace && i < 2)) && wl.hasNext) {
      release(spark)
      wl.prepare()
      val traced = trace && i > 0 && System.nanoTime() >= untracedUntil
      val (t0, c0) = (System.nanoTime(), cpuNs())
      val res = try Right(tracer.request(traced)(wl.request()))
      catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val base = Map("i" -> i, "traced" -> traced,
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuNs() - c0) / 1e9)
      res match {
        case Right(o) =>
          o.tables.foreach { case (n, rows, schema) =>
            val (_, acc) = tables.getOrElseUpdate(n, (schema, mutable.ArrayBuffer.empty[Row]))
            acc ++= rows.map(r => Row.fromSeq(r.toSeq :+ i))
          }
          if (i == 0) {
            // the check's copy of the first output is harness time: the
            // measured window is extended by it
            val d0 = System.nanoTime()
            dump(i, o)
            deadline += System.nanoTime() - d0
          }
          requests += base ++ Map("tables" -> o.tables.map(_._1),
            "full" -> o.oracle(true), "between" -> o.oracle(false))
          last = Some((i, o))
        case Left(err) => requests += base + ("error" -> err)
      }
      i += 1
    }
    last.foreach { case (j, o) => if (j > 0) dump(j, o) }
    release(spark)
    tables.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*),
        schema.add("request", IntegerType))
        .write.partitionBy("request").parquet(s"$out/outputs/$n")
    }

    val conf = spark.sparkContext.getConf
    val localDir = conf.getOption("spark.local.dir")
      .getOrElse(s"${System.getProperty("java.io.tmpdir")} (Spark default)")
    val lastIdx = last.map(_._1).getOrElse(-1)
    val run = Map(
      "workload" -> name,
      "trace" -> trace,
      "between" -> wl.between,
      "oracle_sql" -> requests.flatMap(_.get("full")).collect {
        case specs: Seq[_] => specs.map(_.asInstanceOf[Map[String, Any]]("query").toString)
      }.flatten.distinct.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap,
      "last_request" -> lastIdx,
      "items" -> wl.items,
      "session_s" -> sessionS,
      "setup_only_s" -> setupS,
      "to_first_request_s" -> toFirstRequestS,
      "warmup_s" -> warmupS,
      "requests" -> requests,
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> liveHeapMb,
      "per_layer" -> (if (trace) tracer.metrics() else Map.empty),
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_cores" -> spark.sparkContext.defaultParallelism,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / MB,
        "spark_version" -> spark.version,
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "spark_local_dir" -> localDir,
        "shm_gate_fired" -> localDir.startsWith("/dev/shm/"),
        "local_dir_override" -> sys.env.contains("SPARK_GRAFT_LOCAL_DIR")))
    Files.writeString(Paths.get(out, "run.json"), Json(run) + "\n")
    spark.stop()
  }

  /** CPU time of the whole process (driver and executor threads). */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The session `graft.Bench` builds: `SPARK_GRAFT_CPUS` cores, by default
    * all of this host's. */
  private def session(work: String): SparkSession = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.tools.LocalIo.tune(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Free what a request left cached, as `graft.Bench` does between queries. */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  /** Heap in use once the garbage is gone, in MB. Collects until the
    * heap stops shrinking: after a collection Spark's ContextCleaner drops
    * the blocks and shuffle state of frames that died, which the next
    * collection then frees. */
  private def collectedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var (before, used, rounds) = (Long.MaxValue, collect(), 1)
    while (used < before - (1L << 20) && rounds < 5) {
      Thread.sleep(200)
      before = used
      used = collect()
      rounds += 1
    }
    used / MB
  }

  /** Driver peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally status.close()
  }
}

/** Just enough JSON for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
