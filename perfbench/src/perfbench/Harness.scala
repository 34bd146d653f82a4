package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/**
 * One benchmark run in one JVM: a closed loop with a single client that
 * issues the workload's registry queries one after another on
 * `GraftSession.local(cores)`, in whole passes: unmeasured warm-up
 * passes, then measured passes until `--seconds` of them have elapsed. Each query is timed in three phases from outside
 * the program:
 *
 *  - build: the registry call `fn(spark, dir)`, including graft's eager
 *    library work (probes, persists, streaming drains, index writes);
 *  - plan:  forcing `df.queryExecution.executedPlan`;
 *  - exec:  one action over that physical plan that reads every column
 *    of every row and returns the row count and an order-insensitive
 *    checksum ([[Checksum]]).
 *
 * A fourth, untimed phase checks (rows, checksum) against the manifest.
 * With `--trace 1` the warm-up passes are followed by [[TracePairs]]
 * pairs of passes; the two passes of a pair run the same query order and
 * [[Tracer]] is attached to one of them, for the per-layer numbers and
 * the span file. Each pair's traced minus untraced wall is one sample of
 * the tracing overhead.
 *
 * Before any of this the run sets up: `setup_s` is JVM start to a
 * session and its first result, the cost every fresh JVM pays.
 *
 * Arguments (key value pairs, all required unless noted):
 *   --queries a,b,c  --data <dir>  --seed n  --seconds s  --trace 0|1
 *   --cores n  --app <name>  --out <result.json>  --spans <file>
 *   --manifest <file>  --dataset <key>  [--record 1]
 * With `--record 1` every query runs once in name order and the result
 * file carries the (rows, checksum) entries for the manifest instead of
 * being checked against it.
 */
object Harness {
  /** Unmeasured passes first: the JVM keeps speeding up (class loading,
    * JIT, generated code) for several passes of a workload. On a 4-core
    * host pass walls still fall ~8% a pass after the third and ~3% after
    * the fifth; a host slowed by its neighbours slows the JIT too, so
    * measuring on the steep part of that curve counts the slowdown twice. */
  val WarmupPasses = 5
  /** (traced, untraced) pass pairs of a traced run. */
  val TracePairs = 2

  final case class QueryRun(name: String, pass: Int, buildS: Double,
      planS: Double, execS: Double, rows: Long, checksum: String,
      error: Option[String], exchanges: Int) {
    def latencyS: Double = buildS + planS + execS
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = a("data")
    val cores = a("cores").toInt

    // Set-up: JVM start to a session and its first result.
    val spark = graft.core.GraftSession.local(cores, a("app"))
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$dir/region.parquet").groupBy("r_regionkey").count().collect()
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val queries = a("queries").split(",").toSeq
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val record = a.get("record").contains("1")
    val manifest = if (record) Map.empty[String, (Long, String)]
                   else Manifest.read(new File(a("manifest")), a("dataset"))
    val registry = graft.SparkEntry.queries
    queries.foreach(q => require(registry.contains(q), s"unknown query $q"))
    if (!record) queries.foreach(q =>
      require(manifest.contains(q), s"no manifest entry for ${a("dataset")}:$q"))

    val streams = new StreamTracker
    spark.streams.addListener(streams)
    val tracer = new Tracer(spark.sparkContext, cores)

    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    // After the warm-up passes, untraced: measured passes while the next
    // one fits in --seconds, at least two. Traced: the pass pairs; the
    // first pair traces its first pass, the next its second and so on, so
    // that warm-up drift falls on both sides of the paired differences.
    val W = WarmupPasses
    val (minPasses, maxPasses) =
      if (record) (1, 1) else if (traced) (W + 2 * TracePairs, W + 2 * TracePairs)
      else (W + 2, Int.MaxValue)
    var t0 = 0L
    def measuredS = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (pass < minPasses || (pass < maxPasses && measuredS + passWalls.last <= seconds)) {
      val pair = (pass - W) / 2
      val traceThis = traced && pass >= W && (pass - W) % 2 == pair % 2
      if (traceThis) tracer.attach()
      // warm-up passes run in name order, so every run's JIT sees the
      // same profile before measuring; the passes of a pair share an order
      val order = if (pass < W) queries.sorted
        else new Random(seed * 7919 + (if (traced) W + pair else pass)).shuffle(queries)
      if (pass == W) t0 = System.nanoTime()
      val p0 = System.nanoTime()
      tracer.passStart(pass, traceThis)
      order.foreach { name =>
        runs += runQuery(spark, registry(name), name, dir, pass, tracer, streams)
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      tracer.passEnd(pass)
      if (traceThis) tracer.detach()
      pass += 1
    }
    streams.drain(spark)

    val failures = runs.flatMap { r =>
      r.error.map(e => s"${r.name}: $e").orElse(manifest.get(r.name).flatMap {
        case (rows, sum) if rows != r.rows || sum != r.checksum =>
          Some(s"${r.name}: mismatch rows=${r.rows} checksum=${r.checksum}, " +
            s"manifest rows=$rows checksum=$sum")
        case _ => None
      })
    }
    val host = hostFacts(spark, cores)
    try spark.stop() catch { case _: Throwable => () }

    // the passes the end-to-end numbers come from
    val measured: Int => Boolean = p => if (traced) tracer.isTraced(p) else p >= W || record
    val out = new StringBuilder("{")
    def kv(k: String, v: String): Unit = out.append(Json.str(k)).append(':').append(v).append(',')
    kv("setup_s", Json.num(setupS))
    kv("pass_walls_s", Json.arr(passWalls.map(Json.num)))
    kv("measured_passes", Json.arr((0 until pass).filter(measured).map(_.toString)))
    kv("attempted", runs.size.toString)
    kv("failures", Json.arr(failures.map(Json.str)))
    kv("peak_rss_mb", Json.num(vmHwmMb()))
    kv("host", host)
    kv("streams", streams.summaryJson(measured))
    if (traced) {
      kv("trace_overhead_s", Json.arr((0 until TracePairs).map { i =>
        val (x, y) = (W + 2 * i, W + 2 * i + 1)
        val (t, u) = if (tracer.isTraced(x)) (x, y) else (y, x)
        Json.num(passWalls(t) - passWalls(u))
      }))
      kv("layers", tracer.layersJson(runs.toSeq, streams))
      tracer.writeSpans(new File(a("spans")), streams)
    }
    kv("queries", Json.arr(runs.map(r =>
      s"""{"name":${Json.str(r.name)},"pass":${r.pass},"build_s":${Json.num(r.buildS)},""" +
      s""""plan_s":${Json.num(r.planS)},"exec_s":${Json.num(r.execS)},""" +
      s""""latency_s":${Json.num(r.latencyS)},"rows":${r.rows},""" +
      s""""checksum":${Json.str(r.checksum)},"exchanges":${r.exchanges},""" +
      s""""error":${r.error.map(Json.str).getOrElse("null")}}""")))
    out.setLength(out.length - 1)
    out.append('}')
    val w = new PrintWriter(new File(a("out")), "UTF-8")
    try w.println(out.toString) finally w.close()
  }

  private def runQuery(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      name: String, dir: String, pass: Int, tracer: Tracer,
      streams: StreamTracker): QueryRun = {
    val sc = spark.sparkContext
    val qid = tracer.queryStart(name, pass)
    sc.setJobGroup(s"perfbench-$qid", name, interruptOnCancel = false)
    sc.setLocalProperty(Tracer.QueryKey, qid.toString)
    streams.current = (qid, pass)
    var (buildS, planS, execS) = (0.0, 0.0, 0.0)
    var (rows, sum, exchanges) = (0L, "", 0)
    def phase[T](p: String)(body: => T): (T, Double) = {
      sc.setLocalProperty(Tracer.PhaseKey, p)
      tracer.phaseStart(qid, p)
      val t0 = System.nanoTime()
      try { val r = body; (r, (System.nanoTime() - t0) / 1e9) }
      finally tracer.phaseEnd(qid, p)
    }
    val error = try {
      val (df, b) = phase("build")(fn(spark, dir)); buildS = b
      val (plan, p) = phase("plan")(df.queryExecution.executedPlan); planS = p
      val ((n, s), e) = phase("exec")(Checksum.of(df)); execS = e
      rows = n; sum = f"$s%016x"
      exchanges = new AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size
      None
    } catch { case t: Throwable =>
      Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
    } finally {
      phase("check")(spark.catalog.clearCache())
      tracer.queryEnd(qid)
      streams.current = (-1, -1)
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.QueryKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
    }
    System.err.println(f"[perfbench] pass $pass $name%-32s build $buildS%.3f " +
      f"plan $planS%.3f exec $execS%.3f rows $rows" + error.fold("")(e => s" ERROR $e"))
    QueryRun(name, pass, buildS, planS, execS, rows, sum, error, exchanges)
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** CPU model, cores, heap limit, Spark version and `graft.Bench`'s
    * single-thread calibration loop. */
  private def hostFacts(spark: SparkSession, cores: Int): String = {
    val cpu = scala.io.Source.fromFile("/proc/cpuinfo").getLines()
      .find(_.startsWith("model name")).map(_.split(":").last.trim).getOrElse("unknown")
    val calibSec = {
      var x = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 400000000L) { x += i * 31 + (x >> 3); i += 1 }
      val s = (System.nanoTime() - t0) / 1e9
      if (x == 42) println("")
      s
    }
    s"""{"cpu":${Json.str(cpu)},"nproc":${Runtime.getRuntime.availableProcessors},""" +
    s""""cores":$cores,"xmx_mb":${Runtime.getRuntime.maxMemory / (1 << 20)},""" +
    s""""spark":${Json.str(spark.version)},"calib_sec":${Json.num(calibSec)}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Reads `{"<dataset>:<query>": {"rows": n, "checksum": "hex"}, ...}`. */
object Manifest {
  private val Entry = """"([^"]+):([^"]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"checksum"\s*:\s*"([0-9a-f]+)"\s*\}""".r

  def read(f: File, dataset: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try Entry.findAllMatchIn(src.mkString).collect {
      case m if m.group(1) == dataset => m.group(2) -> (m.group(3).toLong, m.group(4))
    }.toMap finally src.close()
  }
}
