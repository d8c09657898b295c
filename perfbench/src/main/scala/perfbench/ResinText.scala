package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.analysis.TextAnalyzer
import graft.index.SimilarityIndex
import graft.lexicon.Lexicon
import graft.store.KeyValueColumn

/** resin's own surface over a Zipf-vocabulary corpus. Each round
  * tokenizes a document batch, builds and validates its lexicon and
  * writes the entries to a key-value column keyed by angle with set
  * semantics (resin's lexicon command writing its column); a closed loop
  * of point reads and closest-match queries follows. The point reads are
  * tiny, so they measure the per-action driver cost, while tokenize,
  * validate and closest match are CPU-bound. */
final class ResinText(h: Harness, seed: Long, scale: Double) extends Workload {
  private val spark = h.spark
  import spark.implicits._

  private val Vocabulary = 6000
  private val Zipf = 1.0
  private val DocsPerRound = math.max(30, (300 * scale).toInt)
  private val CorpusDocs = math.max(100, (1500 * scale).toInt)
  private val Gets = 11
  private val Exists = 2
  private val IndexOfs = 1
  private val Matches = 1
  private val QueriesPerMatch = 8
  val minRounds = 2

  private var dir = ""
  private def column = s"$dir/lexicon"
  private def corpus = s"$dir/corpus"
  private var kv: KeyValueColumn = _
  /** angle -> (label, round that first wrote it) */
  private val first = mutable.HashMap.empty[Double, (String, Int)]
  private val sorted = new java.util.TreeSet[java.lang.Double]()
  private var liveBytes = 0.0
  private var tokens = 0L
  private val roundWrite = mutable.ArrayBuffer.empty[Double]

  private def rng(parts: Long*) =
    new java.util.SplittableRandom(parts.foldLeft(seed)((a, b) => a * 1000003L + b))

  /** Words with distinct angles, most frequent first, and their angles. */
  private val (words, angles): (IndexedSeq[String], IndexedSeq[Double]) = {
    val r = rng(0)
    val seen = mutable.HashSet.empty[Double]
    Iterator.continually {
      val n = 3 + r.nextInt(7)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }.distinct.map(w => w -> TextAnalyzer.angleOfId(TextAnalyzer.vectorizeToken(w)))
      .filter { case (_, a) => seen.add(a) }
      .take(Vocabulary).toIndexedSeq.unzip
  }

  private val cdf: Array[Double] = {
    val w = (1 to words.size).map(i => 1.0 / math.pow(i, Zipf))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def word(r: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(words.size - 1, if (i >= 0) i else -i - 1)
  }

  private def doc(r: java.util.SplittableRandom, min: Int, max: Int): Seq[Int] =
    Seq.fill(min + r.nextInt(max - min + 1))(word(r))

  /** Closest-match corpus: sentences with distinct word multisets, so a
    * sentence's closest match is itself alone. */
  private def corpusSentences(): IndexedSeq[(Long, String)] = {
    val r = rng(1)
    Iterator.continually(doc(r, 10, 25)).distinctBy(_.sorted).take(CorpusDocs)
      .zipWithIndex.map { case (d, i) => (i.toLong, d.map(words).mkString(";")) }.toIndexedSeq
  }
  private var sentences: IndexedSeq[(Long, String)] = IndexedSeq.empty

  /** Writes document batch `b` to the column and checks the results. */
  private def ingest(b: Int, timed: Boolean): Unit = {
    val r = rng(2, b)
    val docs = Seq.fill(DocsPerRound)(doc(r, 20, 40))
    val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d.map(words).mkString(" ")) }
      .toDF("id", "text")
    def call[A](name: String)(f: => A): A = if (timed) h.call(name)(f) else f
    val t0 = System.nanoTime()
    val toks = call("lexicon.tokenize") {
      val t = Lexicon.tokenize(df, "text").persist()
      t.count()
      t
    }
    val lex = call("lexicon.buildFromTokens") {
      val l = Lexicon.buildFromTokens(toks).persist()
      l.count()
      l
    }
    val report = call("lexicon.validateTokens")(Lexicon.validateTokens(toks, lex.toDF()))
    val n = docs.map(_.size).sum
    h.check(report.missing == 0 && report.totalTokens == n,
      s"round $b validate: ${report.missing} missing of ${report.totalTokens}, expected 0 of $n")
    val written = call("store.tryPutAll")(kv.tryPutAll(lex.toDF().withColumn("round", lit(b))))
    if (timed) roundWrite += (System.nanoTime() - t0) / 1e9
    toks.unpersist(); lex.unpersist()
    val fresh = docs.flatten.distinct.filterNot(w => first.contains(angles(w)))
    h.check(written == fresh.size, s"round $b wrote $written entries, expected ${fresh.size} new")
    fresh.foreach { w =>
      first(angles(w)) = (words(w), b)
      sorted.add(angles(w))
      val v = TextAnalyzer.vectorizeToken(words(w))
      liveBytes += 8 + words(w).length + 12 * v.indices.length + 4
    }
    if (timed) tokens += n
  }

  def setup(d: String): Unit = {
    dir = d
    first.clear(); sorted.clear(); liveBytes = 0; tokens = 0; roundWrite.clear()
    kv = new KeyValueColumn(spark, column, "angle")
    sentences = corpusSentences()
    sentences.toDF("id", "sentence").write.mode("overwrite").parquet(corpus)
  }

  /** The first batch fills the column; one point read of each kind
    * follows (closest match, timed only in the detail record, starts
    * cold). */
  def warmUp(): Unit = {
    ingest(0, timed = false)
    reads(0, gets = 1, matches = 0, timed = false)
  }

  private def reads(b: Int, gets: Int, matches: Int, timed: Boolean): Unit = {
    def call[A](name: String)(f: => A): A = if (timed) h.call(name)(f) else f
    val r = rng(3, b)
    val keys = first.keys.toIndexedSeq.sorted
    def key() = keys(r.nextInt(keys.size))
    (0 until gets).foreach { _ =>
      val a = key()
      val rows = call("store.get")(kv.get(a).select("label", "round").as[(String, Int)].collect())
      h.results("store.get", rows.length)
      h.check(rows.toSeq == Seq(first(a)), s"get($a) = ${rows.toSeq}, first writer ${first(a)}")
    }
    (0 until math.min(gets, Exists)).foreach { i =>
      // the first probe asks for an angle no word has
      val a = if (i == 0) -2.0 - r.nextDouble() else key()
      val got = call("store.keyExists")(kv.keyExists(a))
      h.check(got == first.contains(a), s"keyExists($a) = $got")
    }
    (0 until math.min(gets, IndexOfs)).foreach { _ =>
      val a = key()
      val got = call("store.indexOf")(kv.indexOf(a))
      h.check(got == sorted.headSet(a).size, s"indexOf($a) = $got, rank ${sorted.headSet(a).size}")
    }
    (0 until matches).foreach { _ =>
      val qs = Seq.fill(QueriesPerMatch)(sentences(r.nextInt(sentences.size))).distinct
      val got = call("index.closestMatchHashedIds") {
        SimilarityIndex.closestMatchHashedIds(spark.read.parquet(corpus), qs.toDF("id", "sentence"))
          .select("query_id", "corpus_id").as[(Long, Long)].collect()
      }
      h.check(got.toMap == qs.map(q => q._1 -> q._1).toMap,
        s"closest match of ${qs.map(_._1)} = ${got.toSeq}")
    }
  }

  def round(r: Int): Unit = {
    ingest(r + 1, timed = true)
    reads(r + 1, Gets, Matches, timed = true)
  }

  def storeDirs: Seq[String] = Seq(column)
  def liveUserBytes: Double = liveBytes

  def metrics(): Seq[Metric] = {
    val gets = h.times("store.get")
    val matches = h.times("index.closestMatchHashedIds")
    val tokensPerS = tokens / roundWrite.sum
    Seq(
      Metric("write_p50_s", Stats.median(roundWrite.toSeq), "s", roundWrite.size),
      Metric("write_rate", tokensPerS, "items/s", roundWrite.size),
      Metric("read_p50_s", Stats.median(gets), "s", gets.size),
      Metric("tokens_per_s", tokensPerS, "tokens/s", roundWrite.size),
      Metric("match_p50_s", Stats.median(matches), "s", matches.size)) ++ Stats.tail("read_tail_s", gets)
  }
}
