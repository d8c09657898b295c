package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * WebDataset-style TAR shard ingestion — the container multimodal
 * TRAINING data actually ships in: a shard is a (optionally gzipped)
 * POSIX tar whose member files group into samples by shared key
 * ("000123.jpg" + "000123.json" + "000123.txt" = one sample; the key is
 * everything up to the FIRST dot of the basename, the WebDataset
 * convention), with the members of one sample stored CONTIGUOUSLY — the
 * property that makes shard reading a pure sequential scan.
 *
 * Dependency-free tar: 512-byte ustar headers (name/size/typeflag/
 * checksum validated), GNU long-name ('L') entries, pax ('x'/'g') and
 * directory/link entries skipped, two-zero-block terminator or
 * truncation both end the walk tolerantly (parsed prefix, never a task
 * failure). Gzip shards stream through the shared [[Warc.gunzipAll]].
 *
 * Scale shape: [[webdatasetSamples]] explodes a binary shard column
 * map-side, and sample grouping exploits the contiguity contract —
 * consecutive-run grouping inside the flatMap, NO shuffle (a groupBy on
 * key would shuffle every image byte in the corpus for nothing). One
 * shard = one row in; parallelism = shard count, the layout's native
 * unit (real corpora ship thousands of ~1 GB shards). Decode of member
 * payloads (JPEG/PNG/GIF via [[graft.multimodal.Multimodal]]) composes
 * downstream in the same mapPartitions style.
 */
object WebDataset {

  /** One tar member (full path name, raw bytes). */
  final case class TarEntry(name: String, bytes: Array[Byte])

  /** One WebDataset sample: shared key + extension→bytes members. */
  final case class WdsSample(key: String, parts: Map[String, Array[Byte]])

  // ------------------------------------------------------------------
  // Encoder (fixtures, specs)
  // ------------------------------------------------------------------

  private def octal(v: Long, width: Int): Array[Byte] = {
    val s = java.lang.Long.toOctalString(v)
    val padded = ("0" * math.max(0, width - 1 - s.length)) + s
    (padded + "\u0000").getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  private def header(name: String, size: Long, typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(nameB.length <= 100, "caller splits long names into 'L' entries")
    System.arraycopy(nameB, 0, h, 0, nameB.length)
    System.arraycopy(octal(420, 8), 0, h, 100, 8)      // mode 0644
    System.arraycopy(octal(0, 8), 0, h, 108, 8)        // uid
    System.arraycopy(octal(0, 8), 0, h, 116, 8)        // gid
    System.arraycopy(octal(size, 12), 0, h, 124, 12)
    System.arraycopy(octal(0, 12), 0, h, 136, 12)      // mtime
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)     // chksum = spaces
    h(156) = typeflag.toByte
    System.arraycopy("ustar\u000000".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII), 0, h, 257, 8)
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xFF; i += 1 }
    val cs = octal(sum, 7)
    System.arraycopy(cs, 0, h, 148, 7)
    h(155) = ' '
    h
  }

  /** Streaming tar writer — members write entry-by-entry to `os`
    * (header + data + padding; GNU 'L' entries for long names), no
    * whole-shard buffering: a 1 GB shard costs O(member) heap, not
    * O(shard). `finish()` writes the two-zero-block terminator; the
    * caller owns closing the stream. */
  private final class TarStream(os: java.io.OutputStream) {
    private var written = 0L
    private def raw(b: Array[Byte]): Unit = {
      os.write(b); written += b.length
    }
    private def pad(): Unit = {
      val rem = (written % 512).toInt
      if (rem != 0) raw(new Array[Byte](512 - rem))
    }
    def write(name: String, bytes: Array[Byte]): Unit = {
      val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (nameB.length > 100) { // GNU long-name entry carries the name
        val withNul = java.util.Arrays.copyOf(nameB, nameB.length + 1)
        raw(header("././@LongLink", withNul.length, 'L'))
        raw(withNul)
        pad()
        raw(header(name.take(100), bytes.length, '0'))
      } else raw(header(name, bytes.length, '0'))
      raw(bytes)
      pad()
    }
    def finish(): Unit = raw(new Array[Byte](1024))
  }

  /** Uncompressed tar footprint of one member: header block(s) +
    * 512-padded data — what [[writeWebdatasetShards]]'s byte-budget
    * rolling accounts per sample. */
  private def tarFootprint(name: String, dataLen: Int): Long = {
    val nameB = name.getBytes(
      java.nio.charset.StandardCharsets.UTF_8).length
    val base = 512L + ((dataLen + 511L) / 512L) * 512L
    if (nameB > 100)
      base + 512L + ((nameB + 1 + 511L) / 512L) * 512L
    else base
  }

  /** Encode a tar shard from (name, bytes) members — real ustar with
    * checksums, GNU 'L' entries for names over 100 bytes, and the
    * two-zero-block terminator. `gzip = true` wraps the whole shard. */
  def encodeTar(entries: Seq[(String, Array[Byte])],
                gzip: Boolean = false): Array[Byte] = {
    val raw = new java.io.ByteArrayOutputStream()
    val ts = new TarStream(raw)
    entries.foreach { case (name, bytes) => ts.write(name, bytes) }
    ts.finish()
    val out = raw.toByteArray
    if (!gzip) out
    else {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(out)
      gz.finish()
      bos.toByteArray
    }
  }

  /** [[Warc.writeWetShards]] for MULTIMODAL samples (r17): the corpus
    * exported as WebDataset tar shards — the container image-text
    * TRAINING data ships in — written FROM THE EXECUTORS (no driver
    * collect, no shuffle), rolled at `samplesPerShard`, immediately
    * re-readable by [[webdatasetSamples]]. Input: one row per sample —
    * a key column plus a `map<string extension, binary>` parts column
    * (e.g. `"txt" -> caption bytes, "json" -> metadata, "png" ->
    * image`); a sample's members write CONTIGUOUSLY in sorted-extension
    * order, satisfying the contiguity contract the reader's
    * consecutive-run grouping relies on. Keys longer than 100 bytes
    * ride GNU 'L' entries ([[encodeTar]]); `gzip = true` wraps each
    * shard whole (WebDataset convention — shards are the parallelism
    * unit, so per-member gzip buys nothing). Writer parallelism =
    * input partitions (the writeShards contract): `repartition` a
    * narrow-partitioned corpus first. */
  def writeWebdatasetShards(samples: DataFrame, dir: String,
                            keyCol: String = "key",
                            partsCol: String = "parts",
                            samplesPerShard: Int = 1000,
                            gzip: Boolean = false,
                            bytesPerShard: Long = Long.MaxValue): Unit = {
    require(samplesPerShard > 0, "samplesPerShard must be positive")
    require(bytesPerShard > 0, "bytesPerShard must be positive")
    val confEntries = Warc.hadoopConfEntries(samples)
    val suffix = if (gzip) ".tar.gz" else ".tar"
    samples.select(col(keyCol).cast("string"), col(partsCol))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(Warc.rebuildConf(confEntries))
        var shard = 0
        var outRaw: org.apache.hadoop.fs.FSDataOutputStream = null
        var buf: java.io.BufferedOutputStream = null
        var gzOs: java.util.zip.GZIPOutputStream = null
        var ts: TarStream = null
        var nSamples = 0
        var nBytes = 0L
        def openShard(): Unit = {
          outRaw = fs.create(new org.apache.hadoop.fs.Path(dir,
            f"part-$pid%05d-$shard%04d$suffix"), true)
          // the tar stream emits many small writes (512 B headers,
          // pads) — buffer them before the checksummed FS stream
          buf = new java.io.BufferedOutputStream(outRaw, 1 << 16)
          gzOs = if (gzip) new java.util.zip.GZIPOutputStream(buf)
                 else null
          ts = new TarStream(if (gzip) gzOs else buf)
          nSamples = 0
          nBytes = 0L
        }
        def closeShard(): Unit = if (ts != null) {
          ts.finish()
          if (gzip) gzOs.finish()
          buf.flush()
          outRaw.close()
          ts = null
          shard += 1
        }
        try {
          rows.foreach { r =>
            val key = r.getString(0)
            val members = r.getMap[String, Array[Byte]](1).toSeq
              .sortBy(_._1).map { case (ext, bytes) =>
                (if (ext == null || ext.isEmpty) key else s"$key.$ext",
                  Option(bytes).getOrElse(Array.emptyByteArray))
              }
            val sampleBytes = members.iterator
              .map(m => tarFootprint(m._1, m._2.length)).sum
            // roll at the count limit OR when the next sample would
            // cross the byte budget (a shard always takes >= 1 sample,
            // so an over-budget single sample still ships)
            if (ts != null && (nSamples >= samplesPerShard ||
                (nBytes > 0L && nBytes + sampleBytes > bytesPerShard)))
              closeShard()
            if (ts == null) openShard()
            members.foreach { case (n, b) => ts.write(n, b) }
            nSamples += 1
            nBytes += sampleBytes
          }
        } finally closeShard()
      }
  }

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  private def cString(b: Array[Byte], off: Int, max: Int): String = {
    var end = off
    val lim = off + max
    while (end < lim && b(end) != 0) end += 1
    new String(b, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Parse a NUL/space-terminated octal field; -1 on garbage. */
  private def octalField(b: Array[Byte], off: Int, max: Int): Long = {
    var v = 0L
    var i = off
    val lim = off + max
    var seen = false
    while (i < lim && (b(i) == ' ' || b(i) == 0) && !seen) i += 1
    while (i < lim && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0')
      seen = true
      i += 1
    }
    if (!seen) -1 else v
  }

  /** Parse all regular-file members of one (possibly gzipped) tar.
    * Tolerant: stops at the terminator, a checksum mismatch, or
    * truncation, returning the members parsed so far. */
  def parseTar(fileBytes: Array[Byte]): Seq[TarEntry] = {
    if (fileBytes == null) return Seq.empty
    val bytes = Warc.gunzipAll(fileBytes).getOrElse(return Seq.empty)
    val out = Seq.newBuilder[TarEntry]
    var pos = 0
    var longName: String = null
    var done = false
    while (!done && pos + 512 <= bytes.length) {
      var allZero = true
      var i = pos
      while (allZero && i < pos + 512) { allZero = bytes(i) == 0; i += 1 }
      if (allZero) done = true // terminator block
      else {
        // checksum: header bytes summed with the chksum field as spaces
        val stored = octalField(bytes, pos + 148, 8)
        var sum = 0L
        i = pos
        while (i < pos + 512) {
          sum += (if (i >= pos + 148 && i < pos + 156) ' '.toInt
                  else bytes(i) & 0xFF)
          i += 1
        }
        val size = octalField(bytes, pos + 124, 12)
        if (stored != sum || size < 0 ||
          pos + 512 + size > bytes.length) done = true // corrupt: stop
        else {
          val typeflag = bytes(pos + 156).toChar
          val dataStart = pos + 512
          val data = java.util.Arrays.copyOfRange(bytes, dataStart,
            dataStart + size.toInt)
          typeflag match {
            case 'L' => // GNU long name: data names the NEXT entry
              longName = new String(data,
                java.nio.charset.StandardCharsets.UTF_8).takeWhile(_ != 0)
            case '0' | '\u0000' =>
              val name =
                if (longName != null) longName
                else {
                  // ustar prefix field extends the 100-byte name
                  val prefix = cString(bytes, pos + 345, 155)
                  val base = cString(bytes, pos, 100)
                  if (prefix.nonEmpty) s"$prefix/$base" else base
                }
              out += TarEntry(name, data)
              longName = null
            case _ => () // dirs, links, pax 'x'/'g': skip payload
          }
          pos = dataStart + ((size + 511) / 512).toInt * 512
        }
      }
    }
    out.result()
  }

  /** Split a member name into (sample key, extension) by the WebDataset
    * rule: extension = everything after the FIRST dot of the BASENAME;
    * the key keeps any directory prefix. */
  private[sources] def keyExt(name: String): (String, String) = {
    val slash = name.lastIndexOf('/')
    val dot = name.indexOf('.', slash + 1)
    if (dot < 0) (name, "")
    else (name.substring(0, dot), name.substring(dot + 1))
  }

  /**
   * Explode a binary shard column into WebDataset samples: members
   * grouped by key. Grouping exploits the contiguity contract — a
   * consecutive-run fold inside the flatMap, no shuffle. A key split
   * across non-adjacent positions yields multiple partial samples
   * (exactly how WebDataset readers behave — contiguity is the shard
   * writer's obligation).
   */
  def webdatasetSamples(files: DataFrame,
                        payloadCol: String = "payload"): Dataset[WdsSample] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col(payloadCol)).as[Array[Byte]].flatMap { b =>
      val entries = parseTar(b)
      val out = Vector.newBuilder[WdsSample]
      var curKey: String = null
      var parts = Map.empty[String, Array[Byte]]
      entries.foreach { e =>
        val (k, ext) = keyExt(e.name)
        if (curKey != null && k != curKey) {
          out += WdsSample(curKey, parts)
          parts = Map.empty
        }
        curKey = k
        parts += (ext -> e.bytes)
      }
      if (curKey != null) out += WdsSample(curKey, parts)
      out.result()
    }
  }
}
