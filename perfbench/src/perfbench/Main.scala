package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark entry point: one workload, one seed, one fresh JVM.
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`
  *
  * Prints informational `#` lines (inputs, environment, every metric the
  * workload defines with its unit and sample count) and, as the last line,
  * the result object. Exits 1 when any output check fails. */
object Main {

  /** Shared state of one run. */
  final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
      val seconds: Double, val trace: Option[Trace]) {
    val cores: Int = spark.sparkContext.defaultParallelism
    private val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** Spans are recorded while measuring and during the last set-up. */
    @volatile var measuring = false
    def span[T](name: String)(body: => T): T =
      trace.filter(_ => measuring).fold(body)(_.span(name)(body))

    /** Records a failed output check; returns `ok`. */
    def check(ok: Boolean, what: => String): Boolean = {
      if (!ok) synchronized { if (problems.size < 20) problems += what }
      ok
    }
    def failures: Seq[String] = synchronized(problems.toSeq)

    /** Runs one timed operation; a throw or a failed check counts as failed. */
    def op(body: => Boolean): Unit = {
      val ok = try body catch {
        case e: Exception => check(ok = false, s"operation threw ${e.getClass.getName}: ${e.getMessage}")
      }
      synchronized { attempted += 1; if (!ok) failed += 1 }
    }

    def dir(name: String): String = work.resolve(name).toString

    def write(rows: Seq[Array[String]], schema: StructType, path: String): Unit =
      spark.createDataFrame(rows.map(a => Row.fromSeq(a.toSeq)).asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(path)

    def info(line: String): Unit = println(s"# $line")

    /** Times one set-up phase and reports it on an informational line. */
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally info(f"setup.$name%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
  }

  /** What a workload reports: samples of its user-facing operation, a work
    * rate, and its per-layer extras (zero where not applicable). */
  final case class Outcome(opMs: Seq[Double], itemsPerS: Double,
      extras: Map[String, Double], named: Seq[Named])

  /** A workload-specific metric printed as an informational line. */
  final case class Named(name: String, value: Double, unit: String, n: Int)

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s", "heap_live_mb" -> "MB")

  val extraLayerMetrics: Seq[String] = Seq(
    "spark.failed_tasks", "store.scan.file_slices", "store.manifest_parse_bytes",
    "store.bytes_written", "store.space_amp", "ext.candidates.useful_ratio",
    "ml.load.share", "jvm.alloc_mb_per_op")

  /** Span quantities that read 0 by construction, left out of the result:
    * `soccer.predictFlat`'s work all runs in its child spans, and these
    * operations shuffle nothing or read no input. */
  val structuralZeros: Set[String] =
    Seq("jobs", "tasks", "task_ms", "shuffle_bytes", "input_bytes").map("soccer.predictFlat." + _).toSet ++
      Set("ml.load.shuffle_bytes", "ml.predict.shuffle_bytes", "ml.save.input_bytes",
        "store.purge.shuffle_bytes", "ext.quality.shuffle_bytes")

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Highest of the usual percentiles with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, percentile(xs, p)))

  def latencyNamed(prefix: String, xs: Seq[Double]): Seq[Named] =
    if (xs.isEmpty) Nil
    else Named(s"${prefix}_p50_ms", percentile(xs, 50), "ms", xs.size) +: tail(xs).toSeq.map {
      case (p, v) => Named(s"${prefix}_tail_ms", v, s"ms@p$p", xs.size)
    }

  private def unitOf(k: String): String =
    if (k.endsWith("bytes") || k.endsWith("written")) "bytes"
    else if (k.endsWith("share") || k.endsWith("ratio") || k.endsWith("amp")) "ratio"
    else if (k.contains("_mb")) "MB" else "count"

  /** Heap bytes still reachable after full collections, in MB. Spark's
    * cleaner drops unreferenced broadcast and shuffle blocks asynchronously
    * after a collection, so it collects a few times with pauses between. */
  private def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def allocatedBytes(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else String.format(Locale.ROOT, "%.6f", Double.box(d))

  private def procField(file: String, key: String): String =
    Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key)).getOrElse("")

  /** Host load seen by this VM: the load average and the seconds of CPU time
    * the hypervisor has stolen since boot (the `steal` column of /proc/stat). */
  private def host(): String = {
    val steal = procField("/proc/stat", "cpu ").trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    f"loadavg=${Files.readString(Paths.get("/proc/loadavg")).trim} steal_s=$steal%.2f"
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(2) // Spark's non-daemon threads would otherwise keep the JVM up
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    println(s"# env nproc=$cores start ${host()}")

    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      // a small status store: what the heap retains is then the engine's,
      // not a history that grows with the number of operations run
      .config("spark.ui.retainedJobs", "50").config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    println(f"# setup.session $sessionS%.3f s")
    println("# spark.conf " + spark.sparkContext.getConf.getAll
      .filter(kv => kv._1.startsWith("spark.sql") || kv._1 == "spark.master")
      .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    val trace = if (traced) Some(new Trace(spark.sparkContext)) else None
    val ctx = new Ctx(spark, work, seed, seconds, trace)

    val w: Workload = workload match {
      case "predict_serve" => new PredictServe(ctx)
      case "train_league" => new TrainLeague(ctx)
      case "odds_ingest" => new OddsIngest(ctx)
      case "dedup_corpus" => new DedupCorpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the same set-up several times, each from scratch; the last one's state
    // is measured, and its calls are traced
    val setups = (0 until w.setupRepeats).map { i =>
      ctx.measuring = i == w.setupRepeats - 1
      val s0 = System.nanoTime()
      w.setup(i)
      ctx.measuring = false
      val s = (System.nanoTime() - s0) / 1e9
      ctx.info(f"setup.repeat$i%d $s%.3f s")
      s
    }
    val setupS = percentile(setups, 50)
    ctx.phase("warmup")(w.warmup())
    ctx.attempted = 0
    ctx.failed = 0
    ctx.measuring = true
    val alloc0 = allocatedBytes()
    val out = w.run()
    val allocMbPerOp = (allocatedBytes() - alloc0) / 1048576.0 / math.max(1L, ctx.attempted)
    ctx.measuring = false
    val heapMb = liveHeapMb()
    println(s"# env end ${host()}")
    spark.stop() // drains the listener bus before the trace is summarised

    val rssMb = procField("/proc/self/status", "VmHWM").replaceAll("[^0-9]", "").toDouble / 1024
    val named = Seq(Named("setup_s", setupS, "s", w.setupRepeats),
      Named("fail_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio", ctx.attempted.toInt),
      Named("heap_live_mb", heapMb, "MB", 1), Named("rss_peak_mb", rssMb, "MB", 1),
      Named("jvm.alloc_mb_per_op", allocMbPerOp, "MB", ctx.attempted.toInt)) ++ out.named
    named.foreach(m => println(s"# metric ${m.name}=${num(m.value)} ${m.unit} n=${m.n}"))
    println("# samples op_ms=" + out.opMs.map(v => f"$v%.0f").mkString(","))
    ctx.failures.foreach(f => println(s"# check FAILED: $f"))

    val metrics: Seq[(String, Double, String)] = trace match {
      case None =>
        val values = Map("setup_s" -> setupS, "heap_live_mb" -> heapMb,
          "op_p50_ms" -> (if (out.opMs.isEmpty) 0.0 else percentile(out.opMs, 50)),
          "items_per_s" -> out.itemsPerS)
        endToEnd.map { case (k, u) => (k, values(k), u) }
      case Some(t) =>
        val summary = t.summary()
        val spans = Trace.names.flatMap { n =>
          val st = summary.getOrElse(n, Trace.empty)
          Trace.quantities.zip(st.values).collect { case (q, v) if !structuralZeros(s"$n.$q") =>
            (s"$n.$q", v, if (q.endsWith("ms")) "ms" else if (q.endsWith("bytes")) "bytes" else "count")
          }
        }
        val extras = out.extras ++ Map("spark.failed_tasks" -> t.failedTasks.toDouble,
          "jvm.alloc_mb_per_op" -> allocMbPerOp)
        (extras.keySet -- extraLayerMetrics).toSeq.sorted
          .foreach(k => println(s"# metric $k=${num(extras(k))} ${unitOf(k)}"))
        spans ++ extraLayerMetrics.map(k => (k, extras.getOrElse(k, 0.0), unitOf(k)))
    }
    val correct = ctx.failures.isEmpty && ctx.attempted > 0
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, ctx.attempted)}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }
}

/** One workload. `setup(i)` builds, from scratch, the inputs and state the
  * measured loop needs; it is called `setupRepeats` times (i = 0, 1, ...),
  * `setup_s` is the median, and the last call's state is used. `warmup`
  * then exercises the measured operations untimed, and `run` measures for
  * the configured time. */
trait Workload {
  def setupRepeats: Int = 5
  def setup(repeat: Int): Unit
  def warmup(): Unit
  def run(): Main.Outcome
}
