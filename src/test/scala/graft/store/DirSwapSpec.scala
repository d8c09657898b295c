package graft.store

import graft.SparkTestBase
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The maintenance swap: replace, failure isolation, stale-side cleanup,
  * recovery from a crash between the two renames — and the guard that
  * keeps every rename of persisted state behind this one module. */
class DirSwapSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpRoot(tag: String): Path = {
    val d = Files.createTempDirectory(s"graft_swap_$tag")
    d.toFile.deleteOnExit()
    d
  }

  private def children(root: Path): Set[String] =
    Files.list(root).iterator().asScala.map(_.getFileName.toString).toSet

  /** Every regular file under `root`, relative path -> bytes. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap

  private def ints(path: Path): Set[Int] =
    spark.read.parquet(path.toString).select("x").as[Int].collect().toSet

  test("replace swaps the written content in and leaves only the live path") {
    val root = tmpRoot("plain")
    val live = root.resolve("t")
    Seq(1, 2, 3).toDF("x").write.parquet(live.toString)
    DirSwap.replace(spark, live.toString)(side =>
      spark.read.parquet(live.toString).select(($"x" * 10).as("x"))
        .write.parquet(side))
    assert(ints(live) === Set(10, 20, 30))
    assert(children(root) === Set("t"))
  }

  test("a write that throws leaves the live path byte-identical") {
    val root = tmpRoot("throw")
    val live = root.resolve("t")
    Seq(1, 2, 3).toDF("x").write.parquet(live.toString)
    val before = snapshot(live)
    val e = intercept[IllegalStateException] {
      DirSwap.replace(spark, live.toString) { side =>
        Seq(9).toDF("x").write.parquet(side)
        throw new IllegalStateException("write failed")
      }
    }
    assert(e.getMessage === "write failed")
    assert(snapshot(live) === before)
    assert(ints(live) === Set(1, 2, 3))
  }

  test("a stale side dir from an earlier crash is cleared before the write") {
    val root = tmpRoot("stale")
    val live = root.resolve("t")
    Seq(1).toDF("x").write.parquet(live.toString)
    val stale = root.resolve("t._compacting")
    Seq(666).toDF("x").write.parquet(stale.resolve("installment=5").toString)
    Files.write(stale.resolve("part-torn.parquet"), Array[Byte](1, 2, 3))
    DirSwap.replace(spark, live.toString)(side =>
      Seq(2).toDF("x").write.parquet(s"$side/installment=0"))
    assert(children(live).filterNot(_.startsWith(".")) ===
      Set("installment=0"))
    assert(ints(live) === Set(2))
    assert(children(root) === Set("t"))
  }

  test("a crash between the two renames is recovered by the next replace") {
    val root = tmpRoot("recover")
    val live = root.resolve("t")
    Seq(1, 2).toDF("x").write.parquet(live.toString)
    // the state after step 3's first rename: live renamed aside, the
    // side dir (here torn) present, the live path missing
    Files.move(live, root.resolve("t._old"))
    Files.createDirectories(root.resolve("t._compacting"))
    Files.write(root.resolve("t._compacting/part-torn.parquet"),
      Array[Byte](1, 2, 3))
    // the write reads the live path: it must see the recovered copy
    DirSwap.replace(spark, live.toString)(side =>
      spark.read.parquet(live.toString).select(($"x" + 100).as("x"))
        .write.parquet(side))
    assert(ints(live) === Set(101, 102))
    assert(children(root) === Set("t"))
    // the state after step 3's second rename: both present, the old
    // copy stale — recovery drops it, the live content is kept
    Seq(7).toDF("x").write.parquet(root.resolve("t._old").toString)
    DirSwap.replace(spark, live.toString)(side =>
      spark.read.parquet(live.toString).write.parquet(side))
    assert(ints(live) === Set(101, 102))
    assert(children(root) === Set("t"))
  }

  test("no code outside store/DirSwap.scala renames persisted state") {
    val src = Paths.get("src/main/scala")
    assert(Files.isDirectory(src), s"source tree not found at $src")
    val swap = src.resolve("graft/store/DirSwap.scala")
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != swap)
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains(".rename("))
      .map(src.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"rename outside DirSwap (route the swap through DirSwap.replace): " +
        offenders.mkString(", "))
  }
}
