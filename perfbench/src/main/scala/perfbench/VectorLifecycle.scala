package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{Pq, SimilarityIndex}

/** The vector index lifecycle: build an IVF-PQ index with a raw refine
  * sidecar over clustered 64-d vectors (128 tight clusters of about
  * thirty, so every vector's true neighbours are well separated from the
  * rest and fit in the refine pool: exact answers are then stable), then run rounds of one append,
  * several small refined searches, one delete that mixes old and
  * just-appended ids, and a compaction every few rounds. Reads and
  * writes hit the same index, so a search speed-up that costs append,
  * compaction, space or recall shows. */
final class VectorLifecycle(h: Harness, seed: Long, scale: Double) extends Workload {
  private val spark = h.spark
  import spark.implicits._

  private val Dim = 64
  private val Clusters = 128
  private val NList = 16
  private val M = 8
  private val KSub = 64
  private val NProbe = 4
  private val K = 10
  private val CandidateK = 64
  // the build corpus never shrinks: the exact checks need clusters of
  // about thirty, so that every true top 10 lies inside one cluster
  private val BuildN = (4000 * math.max(1.0, scale)).toInt
  private val AppendN = math.max(50, (400 * scale).toInt)
  private val SearchesPerRound = 3
  private val QueriesPerSearch = 8
  private val DeletesPerRound = math.max(4, AppendN / 10)
  private val CompactEvery = 2
  private val ExactQueries = 2
  val minRounds = 2

  private var dir = ""
  private def index = s"$dir/index"
  private def inputs = s"$dir/inputs"
  private var centers: Array[Array[Double]] = _
  private val vectors = mutable.HashMap.empty[Long, Array[Float]]
  private val live = mutable.LinkedHashSet.empty[Long]
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private var recallSum = 0.0
  private var recallN = 0

  private def rng(parts: Long*) = new java.util.SplittableRandom(parts.foldLeft(seed)((a, b) => a * 1000003L + b))

  /** Vector `id` sits in cluster `id mod clusters`, so clusters stay even. */
  private def batchVectors(batch: Int, firstId: Long, n: Int): Seq[(Long, Array[Float])] = {
    val r = rng(1, batch)
    (0 until n).map { i =>
      val id = firstId + i
      val c = centers(Math.floorMod(id, Clusters.toLong).toInt)
      id -> Array.tabulate(Dim)(d => (c(d) + 0.15 * gaussian(r)).toFloat)
    }
  }

  private def gaussian(r: java.util.SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def appendFirstId(r: Int): Long = BuildN.toLong + (r + 1).toLong * AppendN

  def setup(d: String): Unit = {
    dir = d
    vectors.clear(); live.clear(); deleted.clear(); recallSum = 0; recallN = 0
    val cr = rng(0)
    centers = Array.fill(Clusters)(Array.fill(Dim)(gaussian(cr)))
    val build = batchVectors(-1000, 0L, BuildN)
    build.foreach { case (id, v) => vectors(id) = v; live += id }
    build.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$inputs/build")
  }

  /** Builds the index (the run's one timed build, so it includes the
    * first-call cost a user's build pays), folds in a first batch and
    * searches once. */
  def warmUp(): Unit = {
    h.call("index.ivfPqBuild") {
      Pq.ivfPqBuild(spark.read.parquet(s"$inputs/build"), index, NList, M, KSub, storeRaw = true)
    }
    append(-1)
    search(live.take(QueriesPerSearch).toSeq, NProbe)
  }

  /** Folds batch `r` in at ingest `r + 2`; batch -1 is the warm-up's. */
  private def append(r: Int): Seq[(Long, Array[Float])] = {
    val batch = batchVectors(r, appendFirstId(r), AppendN)
    batch.toDF("vec_id", "embedding").withColumn("batch", lit(r))
      .write.mode("append").partitionBy("batch").parquet(s"$inputs/append")
    val newDf = spark.read.parquet(s"$inputs/append").filter(col("batch") === r).drop("batch")
    if (r < 0) Pq.ivfPqAppendAt(spark, index, newDf, r + 2)
    else h.call("index.ivfPqAppendAt")(Pq.ivfPqAppendAt(spark, index, newDf, r + 2))
    batch.foreach { case (id, v) => vectors(id) = v; live += id }
    batch
  }

  private def queries(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vectors(id))).toDF("query_id", "query_vec")

  /** Query id -> result ids in rank order. */
  private def ranked(results: DataFrame): Map[Long, Seq[Long]] =
    results.select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }

  private def search(ids: Seq[Long], nprobe: Int): Map[Long, Seq[Long]] =
    ranked(Pq.ivfPqSearchRefined(spark, index, queries(ids), K, CandidateK, nprobe))

  /** Exact top-k over the live set, from the program's brute-force scan
    * over the benchmark's own copy of the inputs. */
  private def bruteForce(ids: Seq[Long], r: Int): Map[Long, Seq[Long]] = {
    val corpus = spark.read.parquet(s"$inputs/build")
      .unionByName(spark.read.parquet(s"$inputs/append").filter(col("batch") <= r).drop("batch"))
      .join(deleted.toSeq.toDF("vec_id"), Seq("vec_id"), "left_anti")
    ranked(SimilarityIndex.bruteForceTopK(corpus, queries(ids), K))
  }

  def round(r: Int): Unit = {
    val batch = append(r)

    val rnd = rng(2, r)
    val liveIds = live.toIndexedSeq
    def sample(n: Int): Seq[Long] = Seq.fill(n)(liveIds(rnd.nextInt(liveIds.size))).distinct
    val gone = deleted.toSet
    val asked = mutable.LinkedHashMap.empty[Long, Seq[Long]]
    (0 until SearchesPerRound).foreach { _ =>
      val qs = sample(QueriesPerSearch)
      val got = h.call("index.ivfPqSearchRefined")(search(qs, NProbe))
      h.results("index.ivfPqSearchRefined", qs.size.toLong * K)
      qs.foreach { q =>
        val ids = got.getOrElse(q, Nil)
        h.check(ids.headOption.contains(q), s"search round $r: query $q ranked ${ids.take(3)} first")
        h.check(!ids.exists(gone), s"search round $r: deleted id returned for query $q")
        asked(q) = ids
      }
    }
    // untimed, every other round: recall against the exact top-k, and
    // nprobe = nlist on a few queries must equal it
    if (r % 2 == 1) {
      val exactQs = sample(ExactQueries)
      val exact = search(exactQs, NList)
      val truth = bruteForce((asked.keys ++ exactQs).toSeq.distinct, r)
      exactQs.foreach { q =>
        h.check(exact.get(q) == truth.get(q),
          s"round $r: full-probe search for $q gave ${exact.get(q)}, exact ${truth.get(q)}")
      }
      asked.foreach { case (q, ids) =>
        val t = truth.getOrElse(q, Nil).toSet
        recallSum += ids.count(t).toDouble / K
        recallN += 1
      }
    }

    val fresh = batch.map(_._1)
    val dels = sample(DeletesPerRound * 2).filterNot(fresh.toSet).take(DeletesPerRound / 2) ++
      fresh.take(DeletesPerRound - DeletesPerRound / 2)
    h.call("index.ivfPqDeleteAt")(Pq.ivfPqDeleteAt(spark, index, dels.toDF("vec_id"), r))
    dels.foreach { id => live -= id; deleted += id }

    if ((r + 1) % CompactEvery == 0) {
      val rows = h.call("index.ivfPqCompact")(Pq.ivfPqCompact(spark, index))
      h.check(rows == live.size, s"compaction round $r kept $rows rows, ${live.size} live")
    }
  }

  def storeDirs: Seq[String] = Seq(index)
  def liveUserBytes: Double = live.size.toDouble * Dim * 4

  def metrics(): Seq[Metric] = {
    val build = h.times("index.ivfPqBuild")
    val append = h.times("index.ivfPqAppendAt")
    val search = h.times("index.ivfPqSearchRefined")
    val appendVps = append.size * AppendN / append.sum
    Seq(
      Metric("write_p50_s", Stats.median(append), "s", append.size),
      Metric("write_rate", appendVps, "items/s", append.size),
      Metric("read_p50_s", Stats.median(search), "s", search.size),
      Metric("build_vps", BuildN / build.sum, "vectors/s", build.size),
      Metric("append_vps", appendVps, "vectors/s", append.size),
      Metric("delete_p50_s", Stats.median(h.times("index.ivfPqDeleteAt")), "s",
        h.times("index.ivfPqDeleteAt").size),
      Metric("compact_s", Stats.median(h.times("index.ivfPqCompact")), "s",
        h.times("index.ivfPqCompact").size),
      Metric("recall_at_10", recallSum / math.max(1, recallN), "ratio", recallN)) ++ Stats.tail("read_tail_s", search)
  }
}
