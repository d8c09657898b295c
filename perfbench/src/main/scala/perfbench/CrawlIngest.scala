package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Crawl
import graft.sources.Warc

/** The crawl ingest path: gzip-per-record WARC batches of HTML pages over
  * a few hundred hosts, with links, a planted share of near-duplicates
  * of earlier batches, and some 301 and 404 responses. Each batch is read
  * with `format("warc")` and folded in with `Crawl.ingestBatch`; its page
  * callback lands the fetched ledger and computes the frontier. A few
  * point lookups of crawled urls follow each batch. The stored index and
  * the ledger grow every batch, so growth of per-batch cost with crawl
  * age shows. */
final class CrawlIngest(h: Harness, seed: Long, scale: Double) extends Workload {
  private val spark = h.spark
  import spark.implicits._

  private val Hosts = 300
  private val Pages = math.max(40, (300 * scale).toInt)
  private val Files = 4
  private val LinksPerPage = 8
  private val WordsPerPage = 120
  private val Vocabulary = 5000
  private val LookupsPerBatch = 11
  /** Batches written at set-up; a run that gets further writes more
    * between rounds, untimed. */
  private val PreparedBatches = 8
  val minRounds = 2

  private var dir = ""
  private def indexPath = s"$dir/index"
  private def ledger = s"$dir/ledger"
  private var warcBytes = 0L
  private var responses = 0L
  private val appended = mutable.ArrayBuffer.empty[String]
  private val batches = mutable.HashMap.empty[Int, Expected]

  private def mix(parts: Long*): Long = parts.foldLeft(seed)((a, b) => a * 1000003L + b)
  private def rng(parts: Long*) = new java.util.SplittableRandom(mix(parts: _*))

  private val words: IndexedSeq[String] = {
    val r = rng(0)
    (0 until Vocabulary).map { _ =>
      val n = 3 + r.nextInt(6)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }.distinct
  }

  private def url(b: Int, i: Int): String =
    s"http://h${Math.floorMod(mix(3, b, i), Hosts.toLong)}.example.com/p/$b/$i"

  private sealed trait Kind
  private case object Page extends Kind
  private case object Moved extends Kind
  private case object Missing extends Kind
  private case object NearDup extends Kind

  private def kind(b: Int, i: Int): Kind = {
    val u = rng(4, b, i).nextDouble()
    if (u < 0.05) Moved else if (u < 0.10) Missing else if (u < 0.18 && b > 0) NearDup else Page
  }

  /** A link target: a page of some batch (earlier, this or a later one)
    * or a url no batch fetches. Already in normalized form. */
  private def target(r: java.util.SplittableRandom, b: Int): String =
    if (r.nextBoolean()) url(r.nextInt(b + 6), r.nextInt(Pages))
    else {
      val n = r.nextInt(20000)
      s"http://h${n % Hosts}.example.com/x/$n"
    }

  /** The body words and outlinks of page (b, i) when it is a `Page`. */
  private def page(b: Int, i: Int): (Seq[String], Seq[String]) = {
    val r = rng(5, b, i)
    val body = Seq.fill(WordsPerPage)(words(r.nextInt(words.size)))
    val links = Iterator.continually(target(r, b)).distinct.take(LinksPerPage).toSeq
    (body, links)
  }

  /** The earlier `Page` a near-duplicate copies. */
  private def original(b: Int, i: Int): (Int, Int) = {
    val r = rng(6, b, i)
    Iterator.continually((r.nextInt(b), r.nextInt(Pages))).find { case (ob, oi) => kind(ob, oi) == Page }.get
  }

  private def html(body: Seq[String], links: Seq[String]): Array[Byte] =
    (s"<html><head><title>${body.take(3).mkString(" ")}</title></head><body><p>${body.mkString(" ")}</p>" +
      links.map(l => s"""<a href="$l">more</a>""").mkString(" ") + "</body></html>")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** What a batch holds and what ingesting it must produce. */
  private final case class Expected(nearDups: Int, kept: Seq[String], records: Int,
                                    frontier: Map[String, Long], absent: Seq[String])

  /** Writes batch `b` as WARC files and returns what it must produce. */
  private def writeBatch(b: Int): Expected = {
    val recs = mutable.ArrayBuffer.empty[(String, Int, String, String, Array[Byte])]
    val outlinks = mutable.ArrayBuffer.empty[String]
    var nearDups = 0
    val kept = mutable.ArrayBuffer.empty[String]
    val absent = mutable.ArrayBuffer.empty[String]
    (0 until Pages).foreach { i =>
      val u = url(b, i)
      kind(b, i) match {
        case Page =>
          val (body, links) = page(b, i)
          recs += ((u, 200, "text/html; charset=utf-8", null, html(body, links)))
          outlinks ++= links
          kept += u
        case NearDup =>
          val (ob, oi) = original(b, i)
          val (body, links) = page(ob, oi)
          val edited = body.updated(rng(7, b, i).nextInt(body.size), "edited")
          recs += ((u, 200, "text/html; charset=utf-8", null, html(edited, links)))
          outlinks ++= links
          nearDups += 1
          absent += u
        case Moved =>
          val to = target(rng(8, b, i), b)
          recs += ((u, 301, "text/html", to, Array.emptyByteArray))
          outlinks += to
          absent += u
        case Missing =>
          recs += ((u, 404, "text/html", null, "<html>not found</html>".getBytes("UTF-8")))
          absent += u
      }
    }
    val out = s"$dir/warc/batch=$b"
    new java.io.File(out).mkdirs()
    recs.grouped((recs.size + Files - 1) / Files).zipWithIndex.foreach { case (chunk, f) =>
      val bytes = Warc.encodeWarcResponses(chunk.toSeq, gzipPerRecord = true)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/part-$f.warc.gz"), bytes)
    }
    val fetched = (p: String) => p.contains("/p/") && {
      val Array(pb, _) = p.substring(p.indexOf("/p/") + 3).split('/')
      pb.toInt <= b
    }
    val frontier = outlinks.filterNot(fetched).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    Expected(nearDups, kept.toSeq, recs.size, frontier, absent.toSeq)
  }

  /** Ingests batch `b`: the ingest call, with the ledger landing and the
    * frontier call made from inside it, then checks the outputs. */
  private def ingest(b: Int, timed: Boolean): Expected = {
    val exp = batches.getOrElseUpdate(b, writeBatch(b))
    val dirBytes = Stats.du(new java.io.File(s"$dir/warc/batch=$b"))
    warcBytes += dirBytes
    if (timed) h.results("sources.input_bytes", dirBytes)
    responses += exp.records
    var frontier: Array[(String, Long)] = Array.empty
    val onPageLinks = (pages: DataFrame) => {
      val isObs = col("content_md5").isNotNull || col("revisit")
      pages.select(col("url"), col("content_md5"), when(isObs, 1L).otherwise(0L).as("n_obs"),
          lit(0L).as("n_changes"))
        .write.mode("overwrite").parquet(s"$ledger/fetched/batch=$b")
      val crawled = pages.select("url")
        .unionByName(spark.read.parquet(s"$ledger/fetched").filter(col("batch") < b).select("url"))
        .unionByName(if (b == 0) pages.select("url").limit(0) else Crawl.crawledUrls(spark, indexPath))
      frontier = call(timed, "pipeline.frontier") {
        Crawl.frontier(pages, crawled).select("url", "n_refs").as[(String, Long)].collect()
      }
    }
    val records = spark.read.format("warc").load(s"$dir/warc/batch=$b")
    val (_, stats) = call(timed, "pipeline.ingestBatch") {
      Crawl.ingestBatch(spark, records, indexPath, b, onPageLinks = onPageLinks)(_ => ())
    }
    h.check(stats.duplicates == exp.nearDups,
      s"batch $b pruned ${stats.duplicates} pages, planted ${exp.nearDups}")
    h.check(stats.appended == exp.kept.size,
      s"batch $b appended ${stats.appended}, expected ${exp.kept.size}")
    appended ++= exp.kept
    h.check(frontier.toMap == exp.frontier,
      s"batch $b frontier has ${frontier.length} urls, expected ${exp.frontier.size}")
    exp
  }

  private def call[A](timed: Boolean, name: String)(f: => A): A = if (timed) h.call(name)(f) else f

  def setup(d: String): Unit = {
    dir = d
    warcBytes = 0; responses = 0; appended.clear(); batches.clear()
    (0 to PreparedBatches).foreach(b => batches(b) = writeBatch(b))
  }

  /** The first batch bootstraps the index; two lookups follow. */
  def warmUp(): Unit = {
    ingest(0, timed = false)
    responses = 0
    lookups(0, batches(0).absent, 2, timed = false)
  }

  /** Point lookups of crawled urls: half were appended by some batch so
    * far, half were fetched by batch `b` but never appended. */
  private def lookups(b: Int, absent: Seq[String], n: Int, timed: Boolean): Unit = {
    val r = rng(10, b)
    val present = Seq.fill(n / 2)(appended(r.nextInt(appended.size)))
    val missing = Seq.fill(n - present.size)(absent(r.nextInt(absent.size)))
    (present.map(_ -> true) ++ missing.map(_ -> false)).foreach { case (u, want) =>
      val found = call(timed, "pipeline.crawledUrls") {
        !Crawl.crawledUrls(spark, indexPath).filter(col("url") === u).isEmpty
      }
      if (timed) h.check(found == want, s"batch $b: crawledUrls has $u = $found, expected $want")
    }
  }

  def round(r: Int): Unit = {
    val exp = ingest(r + 1, timed = true)
    lookups(r + 1, exp.absent, LookupsPerBatch, timed = true)
  }

  def storeDirs: Seq[String] = Seq(indexPath, ledger)
  def liveUserBytes: Double = warcBytes.toDouble

  def metrics(): Seq[Metric] = {
    val batches = h.times("pipeline.ingestBatch")
    val reads = h.times("pipeline.crawledUrls")
    val pagesPerS = responses / batches.sum
    Seq(
      Metric("write_p50_s", Stats.median(batches), "s", batches.size),
      Metric("write_rate", pagesPerS, "items/s", batches.size),
      Metric("read_p50_s", Stats.median(reads), "s", reads.size),
      Metric("batch_p50_s", Stats.median(batches), "s", batches.size),
      Metric("pages_per_s", pagesPerS, "pages/s", batches.size)) ++ Stats.tail("read_tail_s", reads)
  }
}
