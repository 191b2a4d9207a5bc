package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as `perfbench/run.py` passes them. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String,
    warm: String,
    work: String,
    result: String,
    golden: String,
    smoke: Boolean,
    recordGolden: Boolean,
    cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("data"), get("warm"), get("work"), get("result"), get("golden"),
      m.get("smoke").contains("1"), m.get("record-golden").contains("1"), get("cores").toInt)
  }
}

/** What one run collects: metrics by name, operation counts, the first
  * errors seen, and the tracer and engine counters of the run. */
final class Run(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val engine: Engine = Engine.install(spark.sparkContext)
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, v: Double): Unit = metrics(name) = v

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Records one pass's value of metric `name`; the metric reported is
    * the median over the run's passes. */
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def putSampleMedians(): Unit = samples.foreach { case (k, v) => put(k, Stats.median(v.toSeq)) }

  /** Records a failed correctness check or operation. */
  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (errors.length < 20) errors += msg
    System.err.println(s"[perfbench] FAIL: $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** Times `f` as one attempted operation; a throw counts as failed. */
  def op[A](what: String)(f: => A): Option[(A, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = f
      Some((a, (System.nanoTime() - t0) / 1e9))
    } catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def errorList: Seq[String] = synchronized(errors.toList)

  /** Runs the workload's untimed warm-up in a `warm_up` span. */
  def warmUp(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    tracer.span("bench", "warm_up")(f)
    info("warm_up_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
  }

  /** Runs `setup` `n` times (fresh each time) and reports the median as
    * `setup_s`; returns the last set-up's value. Workloads set up after
    * their warm-up, so set-up is timed with the JIT warm. */
  def setup[A](n: Int)(f: Int => A): A = {
    val timed = (0 until n).map { k =>
      tracer.span("bench", s"setup$k") {
        val t0 = System.nanoTime()
        val a = f(k)
        (a, (System.nanoTime() - t0) / 1e9)
      }
    }
    info("setup_s_each") = timed.map(t => f"${t._2}%.3f").mkString(",")
    put("setup_s", Stats.median(timed.map(_._2)))
    timed.last._1
  }

  /** The end-to-end metrics every workload reports besides `setup_s`:
    * throughput over the measured path, and the geometric mean of its
    * operations' wall, so a short operation's change is not lost in a
    * long one. The median and tail of the operations are kept as run
    * details: a dozen operations support no tail percentile. */
  def endToEnd(rowsPerS: Double, opMs: Seq[Double]): Unit = {
    put("rows_per_s", rowsPerS)
    put("op_ms_geomean", Stats.geomean(opMs))
    info("op_ms_p50") = f"${Stats.quantile(opMs, 0.5)}%.3f"
    info("op_ms_max") = f"${opMs.max}%.3f"
    info("op_samples") = opMs.length.toString
  }

  /** Runs timed passes (`pass(n)` for n = 0, 1, ...) until the run's
    * seconds are used, and at least `min` of them; returns their number. */
  def passes(min: Int)(pass: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < min || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      pass(n)
      n += 1
    }
    info("passes") = n.toString
    n
  }

  /** Wraps the measured section: engine, GC and heap counters over it. */
  def measured[A](f: => A): A = {
    tracer.span("bench", "settle")(engine.settle())
    val c0 = engine.all
    val gc0 = Engine.gcSeconds
    Engine.resetHeapPeak()
    val t0 = System.nanoTime()
    val a = f
    val t1 = System.nanoTime()
    tracer.span("bench", "settle")(engine.settle())
    val c1 = engine.all
    put("spark.shuffle_mb", (c1.shuffleBytes - c0.shuffleBytes) / 1048576.0)
    put("spark.spill_mb", (c1.spillBytes - c0.spillBytes) / 1048576.0)
    put("jvm.gc_s", Engine.gcSeconds - gc0)
    put("jvm.heap_peak_mb", Engine.heapPeakMb)
    info("measured_s") = f"${(t1 - t0) / 1e9}%.3f"
    a
  }
}

object Main {

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.create(s"local[${args.cores}]", args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.lint", "off")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val run = new Run(spark, args)
    run.info("spark_version") = spark.version
    run.info("master") = spark.sparkContext.master
    run.info("session_ready_s") = f"${(System.currentTimeMillis() - jvmStart) / 1e3}%.3f"
    val wallStart = System.nanoTime()
    try {
      args.workload match {
        case "load_drain" => LoadDrain.run(run)
        case "load_trickle" => LoadTrickle.run(run)
        case "query_mix" => QueryMix.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        run.fail(s"${args.workload}: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    run.putSampleMedians()
    val wallEnd = System.nanoTime()
    run.info("jvm_wall_s") = f"${(wallEnd - wallStart) / 1e9}%.3f"
    if (args.trace) {
      // share of the whole workload (set-up, measured section and checks)
      // that top-level spans cover
      run.put("trace.coverage_pct", 100.0 * run.tracer.coverage(wallStart, wallEnd))
      val path = s"${args.work}/trace-${args.workload}-${args.seed}.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(path), run.tracer.toJson.getBytes("UTF-8"))
      run.info("trace_file") = path
    }
    writeResult(run)
    spark.stop()
  }

  private def writeResult(run: Run): Unit = {
    val ms = run.metrics.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString("{", ",", "}")
    val info = run.info.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString("{", ",", "}")
    val errs = run.errorList.map(e => "\"" + Json.esc(e) + "\"").mkString("[", ",", "]")
    val line = s"""{"correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""metrics":$ms,"info":$info,"errors":$errs}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(run.args.result), (line + "\n").getBytes("UTF-8"))
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Order statistics used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `numpy` default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
