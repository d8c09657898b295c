package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured value, with its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** One closed-loop, single-client workload. */
trait Workload {
  /** Rounds every run completes, however long they take; the traced run
    * counts exactly these rounds, so its counts repeat. */
  def minRounds: Int
  /** Makes the inputs in `dir` from the seed, replacing any earlier set-up. */
  def setup(dir: String): Unit
  /** Creates the initial stores from the inputs and passes once through
    * the calls, so the timed rounds start with classes loaded and code
    * compiled. A call made here through `Harness.call` is timed and
    * traced like the rounds' calls. */
  def warmUp(): Unit
  /** Runs one round of timed calls and checks their outputs. */
  def round(r: Int): Unit
  /** Directories the program wrote its stores to. */
  def storeDirs: Seq[String]
  /** Bytes of live user data those stores hold. */
  def liveUserBytes: Double
  /** Workload metrics, including the shared end-to-end names
    * `write_p50_s`, `write_rate` and `read_p50_s`. */
  def metrics(): Seq[Metric]
}

/** Times calls into the program, opens a trace span around each when
  * tracing, and counts calls whose output failed a check. */
final class Harness(val spark: SparkSession, tracer: Option[Tracer]) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var tracing = false
  var attempted = 0
  private val failedOps = mutable.Set.empty[Int]
  val errors = mutable.ArrayBuffer.empty[String]

  def failed: Int = failedOps.size

  /** Run one timed call `layer.call`; an exception fails the call and
    * ends the run. */
  def call[A](name: String)(f: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try tracer.filter(_ => tracing).fold(f)(_.span(name)(f))
      catch { case e: Throwable => failedOps += attempted; throw e }
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** An output check on the most recent call. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failedOps += attempted
      if (errors.size < 20) errors += what
    }

  def results(name: String, n: Long): Unit =
    tracer.filter(_ => tracing).foreach(_.addResults(name, n))

  def times(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest sample with at least ten samples above it, when that is
    * above the median (21 samples or more): the highest percentile the
    * run supports. */
  def tail(name: String, xs: Seq[Double]): Seq[Metric] = {
    val s = xs.sorted
    if (s.size < 21) Nil else Seq(Metric(name, s(s.size - 11), "s", s.size))
  }

  /** Bytes of regular files under `dir`. */
  def du(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(du).sum).getOrElse(0L)
}

object Main {
  val EndToEnd: Seq[String] =
    Seq("setup_s", "write_p50_s", "write_rate", "read_p50_s", "space_amp", "peak_rss_mb")
  val SetupReps = 3

  private def arg(args: Array[String], key: String): Option[String] = {
    val i = args.indexOf(s"--$key")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def loadavg(): String = scala.util.Try(
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).mkString("[", ",", "]")).getOrElse("[]")

  private def peakRssMb(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
    finally src.close()
  }.getOrElse(Double.NaN)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def metricsJson(ms: Seq[Metric], withSamples: Boolean): String =
    ms.map { m =>
      val n = if (withSamples) s""","samples":${m.samples}""" else ""
      s"""${json(m.name)}:{"value":${m.value},"unit":${json(m.unit)}$n}"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse("")
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "trace").contains("1")
    val scale = arg(args, "scale").map(_.toDouble).getOrElse(1.0)
    val t0Ms = arg(args, "t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val work = new File(arg(args, "work-dir").getOrElse(".bench_build/run")).getAbsoluteFile
    if (work.exists()) {
      System.err.println(s"perfbench: $work holds leftovers of an earlier run; remove it first")
      sys.exit(3)
    }
    new File(work, "tmp").mkdirs()
    val loadStart = loadavg()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val h = new Harness(spark, tracer)
    val wl: Workload = workload match {
      case "vector_lifecycle" => new VectorLifecycle(h, seed, scale)
      case "crawl_ingest" => new CrawlIngest(h, seed, scale)
      case "resin_text" => new ResinText(h, seed, scale)
      case other =>
        System.err.println(s"perfbench: unknown workload '$other'")
        spark.stop(); deleteTree(work); sys.exit(2)
    }

    // Input set-up runs several times, each into a fresh directory from
    // the same seed, and the median counts, so one slow set-up does not
    // decide the figure; the last one's inputs are measured. Warm-up runs
    // once. setup_s is session start + median set-up + warm-up: the time
    // from process start to the first timed call of a run that set up once.
    val setupTimes = (0 until SetupReps).map { i =>
      if (i > 0) deleteTree(new File(work, s"setup-${i - 1}"))
      val t = System.nanoTime()
      wl.setup(new File(work, s"setup-$i").toString)
      (System.nanoTime() - t) / 1e9
    }
    val tWarm = System.nanoTime()
    h.tracing = traced
    wl.warmUp()
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + Stats.median(setupTimes) + warmS

    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var rounds = 0
    var aborted = false
    while (!aborted && (rounds < wl.minRounds || elapsed < seconds)) {
      h.tracing = traced && rounds < wl.minRounds
      try wl.round(rounds)
      catch {
        case e: Throwable =>
          aborted = true
          h.errors += s"round $rounds: ${e.getClass.getName}: ${e.getMessage}"
          e.printStackTrace()
      }
      rounds += 1
    }
    h.tracing = false
    val measuredS = elapsed

    val onDisk = wl.storeDirs.map(d => Stats.du(new File(d))).sum.toDouble
    val common = Seq(
      Metric("setup_s", setupS, "s", SetupReps),
      Metric("space_amp", onDisk / math.max(1.0, wl.liveUserBytes), "ratio", 1),
      Metric("peak_rss_mb", peakRssMb(), "MB", 1),
      Metric("failed_ratio", h.failed.toDouble / math.max(1, h.attempted), "1", h.attempted))
    val all = (common ++ wl.metrics()).filter(!_.value.isNaN)
    val layer = tracer.map(_.metrics()).getOrElse(Map.empty)
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")
    val sparkVersion = spark.version
    spark.stop()
    deleteTree(work)

    val byName = all.map(m => m.name -> m).toMap
    val missing = EndToEnd.filterNot(byName.contains)
    missing.foreach(n => h.errors += s"end-to-end metric $n was not measured")
    val correct = !aborted && h.failed == 0 && missing.isEmpty
    val context = Seq(
      s""""workload":${json(workload)}""", s""""seed":$seed""", s""""trace":${if (traced) 1 else 0}""",
      s""""scale":$scale""", s""""seconds":$seconds""", s""""measured_s":$measuredS""",
      s""""rounds":$rounds""", s""""nproc":${Runtime.getRuntime.availableProcessors()}""",
      s""""local_cores":$cores""", s""""loadavg_start":$loadStart""", s""""loadavg_end":${loadavg()}""",
      s""""spark_version":${json(sparkVersion)}""",
      s""""java_version":${json(System.getProperty("java.version"))}""",
      s""""session_s":$sessionS""", s""""setup_runs_s":${setupTimes.mkString("[", ",", "]")}""",
      s""""warmup_s":$warmS""", s""""spark_conf":$conf""",
      s""""errors":${h.errors.map(json).mkString("[", ",", "]")}""",
      s""""calls":${h.samples.map { case (k, v) =>
        s"""${json(k)}:{"n":${v.size},"p50_s":${Stats.median(v.toSeq)},"total_s":${v.sum}}"""
      }.mkString("{", ",", "}")}""")
    val layerJson = Layers.metricNames
      .map(n => s"""${json(n)}:{"value":${layer.getOrElse(n, 0.0)},"unit":${json(Layers.unitOf(n))}}""")
      .mkString("{", ",", "}")
    println(s"""{"perfbench":"detail",${context.mkString(",")},"metrics":${metricsJson(all, true)}""" +
      (if (traced) s""","per_layer":$layerJson""" else "") + "}")
    val reported =
      if (traced) layerJson
      else metricsJson(EndToEnd.flatMap(byName.get), withSamples = false)
    println(s"""{"correct":$correct,"attempted":${math.max(1, h.attempted)},"failed":${h.failed},"metrics":$reported}""")
  }
}
