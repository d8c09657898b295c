package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The six program layers the benchmark attributes work to, and the
  * source files that belong to each. A Spark job belongs to the layer of
  * the source file in its call site (the first program frame below the
  * Spark action); a job whose call site is in any other file belongs to
  * the layer of the call the benchmark made. */
object Layers {
  val names: Seq[String] = Seq("sources", "pipeline", "dedup", "lexicon", "index", "store")

  private val byFile: Map[String, String] = Map(
    "Warc.scala" -> "sources", "WarcDataSource.scala" -> "sources",
    "Crawl.scala" -> "pipeline", "HtmlText.scala" -> "pipeline",
    "UrlResolve.scala" -> "pipeline",
    "Dedup.scala" -> "dedup",
    "Lexicon.scala" -> "lexicon", "TextAnalyzer.scala" -> "lexicon",
    "Pq.scala" -> "index", "SimilarityIndex.scala" -> "index",
    "KMeansLocal.scala" -> "index",
    "KeyValueColumn.scala" -> "store", "Tombstones.scala" -> "store",
    "Installments.scala" -> "store")

  private val callSiteFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r

  def ofCallSite(callSite: String, callLayer: String): String =
    callSiteFile.findFirstMatchIn(Option(callSite).getOrElse(""))
      .flatMap(m => byFile.get(m.group(1))).getOrElse(callLayer)

  /** Every call the benchmark makes into a layer, as `layer.call`. */
  val calls: Seq[String] = Seq(
    "index.ivfPqBuild", "index.ivfPqAppendAt", "index.ivfPqSearchRefined",
    "index.ivfPqDeleteAt", "index.ivfPqCompact",
    "pipeline.ingestBatch", "pipeline.frontier", "pipeline.crawledUrls",
    "lexicon.tokenize", "lexicon.buildFromTokens", "lexicon.validateTokens",
    "store.tryPutAll", "store.get", "store.keyExists", "store.indexOf",
    "index.closestMatchHashedIds")

  val moduleFields: Seq[String] =
    Seq("jobs", "stages", "tasks", "job_s", "cpu_s", "shuffle_bytes", "io_bytes", "spill_bytes")
  val callFields: Seq[String] = Seq("wall_s", "gap_s", "jobs", "exchanges")
  val ratios: Seq[String] = Seq("index.ivfPqSearchRefined.rows_per_result",
    "store.get.rows_per_result", "sources.records", "sources.input_bytes")

  /** Every per-layer metric name, in report order. */
  val metricNames: Seq[String] =
    names.flatMap(l => moduleFields.map(f => s"$l.$f")) ++
      calls.flatMap(c => callFields.map(f => s"$c.$f")) ++ ratios

  def unitOf(metric: String): String = metric.split('.').last match {
    case f if f.endsWith("_s") => "s"
    case f if f.endsWith("_bytes") => "bytes"
    case "rows_per_result" => "ratio"
    case _ => "count"
  }
}

/** Spans around the benchmark's calls into the program, and the Spark
  * work done inside them. One client makes one call at a time; a call
  * the program makes back into the benchmark (a callback) opens a nested
  * span. A job is tied to the span named by a local property the
  * benchmark sets on the calling thread; a job from a pooled thread that
  * inherited a stale property is tied by its submission time instead.
  * Everything is kept in memory and read once at the end, after the
  * listener bus has drained. */
final class Tracer(spark: SparkSession) extends SparkListener with AdaptiveSparkPlanHelper {

  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val results = mutable.HashMap.empty[String, Long]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val execExchanges = mutable.ArrayBuffer.empty[(Long, Int)]

  spark.sparkContext.addSparkListener(this)

  /** Run `f` as one call `layer.call` and record its span. */
  def span[A](call: String)(f: => A): A = {
    val id = spans.synchronized { spans += Span(call, System.currentTimeMillis()); spans.size - 1 }
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(SpanProperty, outer)
      spans.synchronized {
        spans(id) = spans(id).copy(endMs = System.currentTimeMillis(), wallS = wall,
          parent = Option(outer).map(_.toInt))
      }
    }
  }

  /** Results returned by a call, for the work-per-result ratios. */
  def addResults(call: String, n: Long): Unit = synchronized {
    results(call) = results.getOrElse(call, 0L) + n
  }

  /** The span a job belongs to: the one its thread named, if that span
    * was open when the job started; otherwise the innermost span open at
    * the job's start, boundaries excluded, so work between spans stays
    * untraced. */
  private def spanOf(timeMs: Long, hinted: Option[Int]): Option[Int] = spans.synchronized {
    def open(i: Int) = spans(i).endMs < 0 || timeMs <= spans(i).endMs
    hinted.filter(i => i < spans.size && spans(i).startMs <= timeMs && open(i))
      .orElse(spans.indices.reverseIterator
        .find(i => spans(i).startMs < timeMs && (spans(i).endMs < 0 || timeMs < spans(i).endMs)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = spanOf(e.time, prop(SpanProperty).map(_.toInt))
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(span, callSite, e.time)
    // a stage listed by a later job was skipped there: it ran for the first
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    for (s <- span; x <- prop("spark.sql.execution.id")) execSpan(x.toLong) = s
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    // the warc source is the only data source v2 scan the workloads run
    val warc = e.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD"))
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).readsWarc = warc
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).completed = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.records += m.inputMetrics.recordsRead
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Exchanges in the executed plan of each SQL execution: the AQE final
    * plan, with its query stages and subqueries. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      PerfbenchAccess.executedPlan(end).foreach { plan =>
        val n = collectWithSubqueries(plan) { case x: Exchange => x }.size
        synchronized { execExchanges += ((end.executionId, n)) }
      }
    case _ =>
  }

  /** Every per-layer metric, computed over the spans recorded so far. */
  def metrics(): Map[String, Double] = {
    PerfbenchAccess.drain(spark.sparkContext)
    synchronized {
      val out = mutable.LinkedHashMap(Layers.metricNames.map(_ -> 0.0): _*)
      def add(k: String, v: Double): Unit = out(k) = out(k) + v
      val all = spans.synchronized(spans.toIndexedSeq)
      val jobsBySpan = jobs.toSeq.collect { case (id, j) if j.span.isDefined => j.span.get -> (id, j) }
        .groupBy(_._1).map { case (s, js) => s -> js.map(_._2) }
      val stagesByJob = stageJob.toSeq.groupBy(_._2).map { case (j, ss) => j -> ss.map(_._1) }
      val nestedWall = all.flatMap(s => s.parent.map(_ -> s.wallS)).groupMapReduce(_._1)(_._2)(_ + _)
      all.zipWithIndex.foreach { case (s, i) =>
        val callLayer = s.call.takeWhile(_ != '.')
        val js = jobsBySpan.getOrElse(i, Nil)
        // a nested call's time is its own, not a gap in its caller
        val selfWall = s.wallS - nestedWall.getOrElse(i, 0.0)
        add(s"${s.call}.wall_s", s.wallS)
        add(s"${s.call}.jobs", js.size)
        add(s"${s.call}.gap_s", math.max(0.0, selfWall - covered(js.map(_._2)) / 1e3))
        js.foreach { case (jobId, j) =>
          val layer = Layers.ofCallSite(j.callSite, callLayer)
          add(s"$layer.jobs", 1)
          if (j.endMs >= 0) add(s"$layer.job_s", (j.endMs - j.startMs) / 1e3)
          stagesByJob.getOrElse(jobId, Nil).flatMap(stages.get).filter(_.completed).foreach { a =>
            add(s"$layer.stages", 1)
            add(s"$layer.tasks", a.tasks)
            add(s"$layer.cpu_s", a.cpuNs / 1e9)
            add(s"$layer.shuffle_bytes", a.shuffleBytes)
            add(s"$layer.io_bytes", a.inBytes + a.outBytes)
            add(s"$layer.spill_bytes", a.spillBytes)
            if (a.readsWarc) add("sources.records", a.records)
            if (s.call == "index.ivfPqSearchRefined" || s.call == "store.get")
              add(s"${s.call}.rows_per_result", a.records)
          }
        }
      }
      execExchanges.foreach { case (execId, n) =>
        execSpan.get(execId).foreach(i => add(s"${all(i).call}.exchanges", n))
      }
      // the warc reader reports no bytes read, so the workload records the
      // bytes of the files it hands the source
      out("sources.input_bytes") = results.getOrElse("sources.input_bytes", 0L).toDouble
      Seq("index.ivfPqSearchRefined", "store.get").foreach { c =>
        val k = s"$c.rows_per_result"
        out(k) = out(k) / math.max(1L, results.getOrElse(c, 0L))
      }
      out.toMap
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(call: String, startMs: Long, endMs: Long = -1L, wallS: Double = 0.0,
                        parent: Option[Int] = None)

  final case class Job(span: Option[Int], callSite: String, startMs: Long) {
    var endMs: Long = -1L
  }

  final class StageAgg {
    var completed = false
    var readsWarc = false
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var inBytes = 0L
    var outBytes = 0L
    var records = 0L
    var spillBytes = 0L
  }

  /** Milliseconds covered by the union of the jobs' run intervals. */
  def covered(js: Seq[Job]): Long = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
