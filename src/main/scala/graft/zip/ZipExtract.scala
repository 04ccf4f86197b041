package graft.zip

import java.io.BufferedInputStream
import java.security.MessageDigest
import java.util.zip.ZipInputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One output row per file entry inside a zip archive — the reference's
  * `UnzippedFile { name, source, body, hash }` (reference:
  * src/builder.rs:156-161). `hash` is plain lowercase SHA-256 hex of `body`
  * (the reference's stored form is quote-wrapped by a Debug-format bug,
  * src/builder.rs:207 — we implement the intended semantics, SURVEY.md B2).
  */
case class ZipEntryRow(name: String, source: String, body: Array[Byte], hash: String)

/** The reference's whole "query language" is 9 CLI flags
  * (reference: src/main.rs:16-44); this config is its Spark-native
  * equivalent.
  */
case class ZipToParquetConfig(
    inputs: Seq[String],
    output: String = "",
    includeBody: Boolean = true,   // --no-body   (src/main.rs:26-28)
    includeSource: Boolean = true, // --no-source (src/main.rs:29-31)
    includeHash: Boolean = true,   // --no-hash   (src/main.rs:32-34)
    entryGlob: Option[String] = None, // -g/--glob (src/main.rs:38-40)
    rowGroupSize: Int = 100,       // --row-group-size (src/main.rs:41-43)
    singleFile: Boolean = true,    // reference writes exactly one file
    maxBodyBytes: Long = 1L << 30, // scale guard, SURVEY.md §7.6 (no ref analog)
    // Byte-parity mode for the reference's B2 quirk (SURVEY.md B2): its
    // Debug-format bug stores the hash quote-wrapped ("\"<hex>\"",
    // src/builder.rs:207). Default is the intended plain hex; enable this
    // to produce output diffable byte-for-byte against real reference runs.
    quirkQuotedHash: Boolean = false)

/** Typed error taxonomy mirroring the reference's (src/error.rs:4-45),
  * message-compatible with its Display impl (src/error.rs:49-104). The
  * reference's `Arrow` variant has no analog (no arrow layer here);
  * `InvalidWaxGlob`/`InvalidGlob` collapse to one variant (one glob
  * engine). Variants surface from Spark tasks wrapped in the usual
  * SparkException chain — `GraftError.unwrap` digs the typed error back
  * out of a task failure for callers that want to branch on it. */
sealed trait GraftError { def message: String }
object GraftError {
  /** Reference declared but never raised these (src/error.rs:28-31,36-38);
    * we raise them for real (SURVEY.md B4). */
  final case class NoInputsFound(patterns: Seq[String]) extends GraftError {
    def message = s"no input files matched: ${patterns.mkString(", ")}"
  }
  final case class InvalidGlob(glob: String, cause: String) extends GraftError {
    def message = s"invalid glob '$glob': $cause"
  }
  /** src/error.rs:5-8,50-56 — opening/reading the archive file itself. */
  final case class ReadFile(file: String, cause: String) extends GraftError {
    def message = s"error reading file $file: $cause"
  }
  /** src/error.rs:9-12,57-62 — the output destination failed. */
  final case class WriteFile(target: String, cause: String) extends GraftError {
    def message = s"error writing to destination $target: $cause"
  }
  /** src/error.rs:13-16,63-68 — structurally broken zip (bad headers,
    * truncated central directory, bogus compression method). */
  final case class Zip(file: String, cause: String) extends GraftError {
    def message = s"error reading zip file $file: $cause"
  }
  /** src/error.rs:17-21,69-82 — one entry's stream failed mid-inflate. */
  final case class ReadFileInZip(fileName: String, file: String, cause: String)
      extends GraftError {
    def message = s"error reading file $fileName from zip $file: $cause"
  }
  /** src/error.rs:22-24,83 — the parquet sink failed. */
  final case class Parquet(cause: String) extends GraftError {
    def message = s"error writing to parquet: $cause"
  }
  /** src/error.rs:41,94-96 — no sink selected. */
  case object NeedsOutputOrStdout extends GraftError {
    def message = "must provide an output file or --stdout"
  }
  /** src/error.rs:42,97-99 — both sinks selected. */
  case object InvalidOutputAndStdout extends GraftError {
    def message = "must provide an output file or --stdout, but not both"
  }
  /** CLI argument errors (clap handles these in the reference; same
    * one-line-message-and-exit contract, src/main.rs:46-51). */
  final case class InvalidArgument(detail: String) extends GraftError {
    def message = detail
  }
  /** Scale guard with no reference analog (SURVEY.md §7.6): an entry
    * inflated past maxBodyBytes — fail typed instead of OOMing the task. */
  final case class EntryTooLarge(fileName: String, file: String, maxBytes: Long)
      extends GraftError {
    def message =
      s"zip entry '$fileName' in $file exceeds maxBodyBytes=$maxBytes"
  }
  final class GraftException(val err: GraftError) extends RuntimeException(err.message)
  def raise(err: GraftError): Nothing = throw new GraftException(err)
  /** Find the typed error inside a (possibly Spark-wrapped) failure.
    * The walk is depth-bounded like [[causeChain]]: a self-referencing
    * cause is not the only possible cycle (a→b→a loops too). */
  @annotation.tailrec
  def unwrap(t: Throwable, depth: Int = 16): Option[GraftError] = t match {
    case g: GraftException => Some(g.err)
    case null => None
    case _ => if (depth <= 0 || (t.getCause eq t)) None else unwrap(t.getCause, depth - 1)
  }
}

/** Spark-native zip → rows extractor (reference dataflow:
  * src/builder.rs:23-119).
  *
  * Scale design: archives are packed into tasks by byte size, the way
  * Spark packs files into scan partitions — in listing (path) order, each
  * task filled up to Spark's own file-split size (see [[packByBytes]]).
  * An archive is never split (a zip is not splittable: central directory
  * + per-entry streams), so a large archive still gets a task of its own,
  * and many small archives share one instead of each paying a task. The
  * reference runs one thread per zip (src/builder.rs:49-50,64); here the
  * grain follows the bytes. We deliberately do NOT use
  * `format("binaryFile")`, which materializes the whole archive as one row
  * (2 GiB max, full copy in memory): instead tasks open a Hadoop
  * `FileSystem` stream and decode with `ZipInputStream`, so memory per
  * task is one *entry* body, not one archive — the same bound as the
  * reference's streaming reads. The plan is a pure narrow pipeline
  * (list → extract → write) with zero shuffles in both output modes; the
  * single-file mode adds a driver-side row-group copy (see [[run]]).
  *
  * Reference pushdowns reproduced (SURVEY.md §4.1):
  *   - name-glob filter applied BEFORE body decompression
  *     (src/builder.rs:180-183): non-matching entries are skipped by
  *     `getNextEntry` without inflating their data.
  *   - body read elided entirely when neither body nor hash is requested
  *     (src/builder.rs:185); hash alone still forces the read
  *     (hash ← body dependency, src/builder.rs:196-209).
  */
object ZipExtract {

  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("source", StringType, nullable = true),
    StructField("body", BinaryType, nullable = true),
    StructField("hash", StringType, nullable = true)))

  /** Expand input patterns (literal paths or globs, reference
    * src/builder.rs:25-29) into concrete zip paths via the Hadoop FS.
    * Returns (readPath, displayPath): readPath keeps the full URI so tasks
    * open the right FileSystem; displayPath is the plain path for the
    * `source` column (the reference stores the path as given,
    * src/builder.rs:216 — local files there carry no `file:` scheme). */
  def listInputs(spark: SparkSession, patterns: Seq[String]): Seq[(String, String)] =
    listArchives(spark, patterns).map(a => (a.readPath, a.displayPath))

  /** One listed archive; `len` comes from the glob's own `FileStatus`. */
  private[zip] final case class Archive(readPath: String, displayPath: String, len: Long)

  /** [[listInputs]] with each archive's byte length, sorted by readPath. */
  private[zip] def listArchives(spark: SparkSession, patterns: Seq[String]): Seq[Archive] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val archives = patterns.flatMap { pat =>
      val p = new Path(pat)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isFile).map { st =>
          val uri = st.getPath.toUri
          val display = if (uri.getScheme == "file") uri.getPath else st.getPath.toString
          Archive(st.getPath.toString, display, st.getLen)
        }
    }.distinctBy(_.readPath).sortBy(_.readPath)
    if (archives.isEmpty) GraftError.raise(GraftError.NoInputsFound(patterns))
    archives
  }

  /** Pack archive lengths into task groups the way Spark packs files into
    * scan partitions (`FilePartition.maxSplitBytes`): each archive costs
    * `len + openCost`, and a group fills up to
    * `min(maxPartitionBytes, max(openCost, Σcost / parallelism))`. Groups
    * are contiguous runs in the given (listing) order, so rows come out in
    * archive order; an archive is never split, so one larger than the
    * split size gets a group of its own. Returns index ranges into `lens`.
    * This is a copy of Spark's rule, not a call into it, and it leaves out
    * on purpose what would reorder or re-cut the groups: the file scan's
    * largest-first sort (it would break archive order),
    * `spark.sql.files.minPartitionNum` (the divisor is always
    * `parallelism`) and `spark.sql.files.maxPartitionNum` (no regrouping
    * cap). */
  private[zip] def packByBytes(lens: IndexedSeq[Long], maxPartitionBytes: Long,
      openCost: Long, parallelism: Int): Seq[Range] = {
    val total = lens.map(_ + openCost).sum
    val split = math.min(maxPartitionBytes,
      math.max(openCost, total / math.max(1, parallelism)))
    val groups = Seq.newBuilder[Range]
    var start = 0
    var filled = 0L
    for (i <- lens.indices) {
      val cost = lens(i) + openCost
      if (i > start && filled + cost > split) {
        groups += (start until i); start = i; filled = 0L
      }
      filled += cost
    }
    if (lens.nonEmpty) groups += (start until lens.length)
    groups.result()
  }

  /** The extractor: archives → one row per matching entry. Narrow plan;
    * archives are packed into byte-sized tasks ([[packByBytes]]) with no
    * shuffle, and rows come out in (archive path, entry) order. */
  def entries(spark: SparkSession, cfg: ZipToParquetConfig,
      rowProgress: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    // Validate the glob on the driver so a bad pattern fails fast (B4).
    val globRegex: Option[String] = cfg.entryGlob.map { g =>
      try GlobRegex.translate(g)
      catch { case e: GlobRegex.InvalidGlobException =>
        GraftError.raise(GraftError.InvalidGlob(g, e.getMessage))
      }
    }
    val archives = listArchives(spark, cfg.inputs).toIndexedSeq
    val needBody = cfg.includeBody
    val needHash = cfg.includeHash
    val needRead = needBody || needHash // src/builder.rs:185
    val needSource = cfg.includeSource
    val maxBody = cfg.maxBodyBytes
    val hadoopConf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)

    val sqlConf = spark.sessionState.conf
    val groups = packByBytes(archives.map(_.len), sqlConf.filesMaxPartitionBytes,
      sqlConf.filesOpenCostInBytes, spark.sparkContext.defaultParallelism)
      .map(r => r.map(i => (archives(i).readPath, archives(i).displayPath)))
    val rows = spark.sparkContext.parallelize(groups, groups.length).flatMap { group =>
      // archives open one after another as the previous one is drained
      val it = group.iterator.flatMap { case (readPath, displayPath) =>
        extractOne(readPath, displayPath, hadoopConf.value, globRegex,
          needRead, needBody, needHash, needSource, maxBody)
      }
      // O14 per-ROW grain (reference src/logger.rs:29-45 `inc(1)` per row):
      // the accumulator's task-partial value rides the executor heartbeat
      // to the driver, so a listener can tick INSIDE a long task — one add
      // per row, no driver round-trip on the hot path.
      rowProgress.fold(it)(acc => it.map { r => acc.add(1L); r })
    }
    val df = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[ZipEntryRow]).toDF()
    // B2 byte-parity: reproduce the reference's quote-wrapped stored hash
    // (src/builder.rs:207 Debug-format bug). concat preserves NULL.
    if (cfg.quirkQuotedHash)
      df.withColumn("hash", concat(lit("\""), col("hash"), lit("\"")))
    else df
  }

  /** O8/O14 parity — the reference's pre-extraction count pass
    * (src/builder.rs:24-45 walks entry NAMES to total the progress bar).
    * Body and hash are elided, so `needRead` is false in [[entries]] and no
    * entry is ever decompressed — the pass touches zip metadata only. The
    * glob (and the rest of cfg) still applies: the count is exactly the
    * rows the extraction will emit. */
  def countEntries(spark: SparkSession, cfg: ZipToParquetConfig): Long =
    entries(spark, cfg.copy(includeBody = false, includeHash = false)).count()

  /** Stream one archive; iterator so downstream write pipelines without
    * buffering the archive (bounded memory = one entry, cf. the reference's
    * bounded channel src/builder.rs:53). */
  private[zip] def extractOne(
      readPath: String,
      displayPath: String,
      conf: Configuration,
      globRegex: Option[String],
      needRead: Boolean,
      needBody: Boolean,
      needHash: Boolean,
      needSource: Boolean,
      maxBodyBytes: Long): Iterator[ZipEntryRow] = {
    val pattern = globRegex.map(java.util.regex.Pattern.compile(_))
    val p = new Path(readPath)
    val zin =
      try {
        val fs = p.getFileSystem(conf)
        new ZipInputStream(new BufferedInputStream(fs.open(p), 1 << 16),
          EntryNameCharset)
      } catch { case e: java.io.IOException =>
        // src/error.rs:5-8 — the archive itself is unreadable
        GraftError.raise(GraftError.ReadFile(displayPath, e.toString))
      }
    val source = if (needSource) displayPath else null

    new Iterator[ZipEntryRow] {
      private var nextRow: ZipEntryRow = _
      private var done = false
      private def advance(): Unit = {
        nextRow = null
        while (nextRow == null && !done) {
          val e =
            try zin.getNextEntry
            catch { case scala.util.control.NonFatal(x) =>
              // src/error.rs:13-16 — broken zip structure. NonFatal, not just
              // ZipException|IOException: the JDK raises e.g.
              // IllegalArgumentException from ZipCoder on malformed UTF-8
              // entry names, and the typed-taxonomy contract covers those too.
              GraftError.raise(GraftError.Zip(displayPath, x.toString))
            }
          if (e == null) { done = true; zin.close() }
          else if (!e.isDirectory &&
                   pattern.forall(_.matcher(e.getName).matches())) {
            // glob filter BEFORE decompression (src/builder.rs:180-183):
            // a non-matching entry never reaches the read below.
            var body: Array[Byte] = null
            var hash: String = null
            if (needRead) {
              val bytes = readEntry(zin, maxBodyBytes, e.getName, displayPath,
                e.getSize)
              if (needHash) hash = sha256Hex(bytes) // src/builder.rs:196-209
              if (needBody) body = bytes            // src/builder.rs:185-195
            }
            nextRow = ZipEntryRow(e.getName, source, body, hash)
          }
        }
      }
      advance()
      def hasNext: Boolean = nextRow != null
      def next(): ZipEntryRow = { val r = nextRow; advance(); r }
    }
  }

  /** Entry names decode as cp437 unless the entry's EFS flag says UTF-8 —
    * the zip appnote's rule (APPNOTE 4.4.4/D.2), which
    * `ZipInputStream(in, charset)` implements: the charset argument applies
    * only to non-EFS entries. The reference's wax-glob path is lossy on
    * non-UTF8 names; we decode them faithfully (documented divergence,
    * SURVEY.md §7.6). */
  private[graft] val EntryNameCharset = java.nio.charset.Charset.forName("IBM437")

  /** Largest buffer [[readEntry]] allocates before it has read a byte. The
    * header's size is archive input, and `ZipInputStream` checks it against
    * the real body only when the entry ends, so a ~100-byte archive can
    * claim a 1 GiB entry: the claim alone must not decide a large
    * allocation. Honest bodies up to this size are still read in place. */
  private[graft] val ReadEntryInitialCap: Int = 8 << 20

  /** Read the current entry's body. `size` is the local header's
    * uncompressed size, or -1 when the entry defers it to a data
    * descriptor; when known, the buffer starts at that size (capped at
    * `maxBytes` and [[ReadEntryInitialCap]]), so such a body is read in
    * place with no regrowth copies and returned without a trailing copy.
    * Memory grows only with the bytes actually inflated. */
  private[graft] def readEntry(zin: ZipInputStream, maxBytes: Long, name: String,
      zipPath: String, size: Long): Array[Byte] = {
    // no body may pass maxBytes, nor the JVM's largest byte array
    val limit = math.max(0L, math.min(maxBytes, Int.MaxValue - 8L))
    val first = math.min(if (size >= 0) size else 8192L, ReadEntryInitialCap.toLong)
    var buf = new Array[Byte](math.min(first, limit).toInt)
    var len = 0
    try {
      len = zin.readNBytes(buf, 0, buf.length)
      // a full buffer probes for EOF before growing, so a body of the
      // declared size is never copied
      var next = if (len == buf.length) zin.read() else -1
      while (next >= 0) {
        if (len + 1L > limit)
          GraftError.raise(GraftError.EntryTooLarge(name, zipPath, maxBytes))
        buf = java.util.Arrays.copyOf(buf,
          math.min(math.max(2L * len, 8192L), limit).toInt)
        buf(len) = next.toByte
        len += 1
        len += zin.readNBytes(buf, len, buf.length - len)
        next = if (len == buf.length) zin.read() else -1
      }
    } catch {
      case g: GraftError.GraftException => throw g // EntryTooLarge from above
      case scala.util.control.NonFatal(x) =>
        // src/error.rs:17-21 — this entry's stream failed mid-inflate.
        // NonFatal: inflater internals can throw beyond ZipException|IOException.
        GraftError.raise(GraftError.ReadFileInZip(name, zipPath, x.toString))
    }
    if (len == buf.length) buf else java.util.Arrays.copyOf(buf, len)
  }

  private def causeChain(t: Throwable): List[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(x => x != null)
      .take(16).toList // cycle guard

  def sha256Hex(bytes: Array[Byte]): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(bytes)
    val sb = new StringBuilder(64)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.result()
  }

  /** Full reference pipeline: extract → Parquet(Snappy)
    * (reference sink: src/builder.rs:232-278). `singleFile=true` mirrors the
    * reference's one-output-FILE contract exactly: `-o PATH` yields a
    * regular parquet file at PATH (src/builder.rs:232-278 opens one
    * `File`), not a Spark part-file directory. Both modes run the same
    * shuffle-free Spark plan: every extract task writes its own part file.
    * In single-file mode the parts land in a sibling temp directory and
    * the driver merges them, in part-name (= archive) order, with
    * parquet-mr's `ParquetRewriter`: column chunks are copied verbatim (no
    * decode, no re-encode), and column/offset indexes and Spark's footer
    * metadata carry over. One part is promoted by an O(1) rename. The
    * copy streams every output byte through the driver once — fine at
    * parity scale, NOT what you want at 100 TB: pass singleFile=false to
    * write a many-file directory and let the reader glob it.
    * Row-group sizing (reference `--row-group-size`, src/main.rs:41-43,
    * enforced by src/builder.rs:254 `set_max_row_group_size`): parquet-mr's
    * `parquet.block.row.count.limit` is the same rows-per-group ceiling, so
    * the knob maps exactly; the merge keeps each part's row groups as they
    * are. One deviation: parquet-mr ALSO closes a group when the byte limit
    * (`parquet.block.size`) fills — a safety net the reference lacks; it
    * never fires at the reference's 100-row default. */
  def run(spark: SparkSession, cfg: ZipToParquetConfig,
      rowProgress: Option[org.apache.spark.util.LongAccumulator] = None)
      : Unit = {
    // src/error.rs:41 + src/main.rs:57-62 — a sink must be chosen up front
    if (cfg.output.isEmpty) GraftError.raise(GraftError.NeedsOutputOrStdout)
    val df0 = entries(spark, cfg, rowProgress)
    if (!cfg.singleFile) { writeParquetDir(df0, cfg, cfg.output); return }
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new Path(cfg.output)
    val fs =
      try outPath.getFileSystem(conf)
      catch { case e: java.io.IOException =>
        GraftError.raise(GraftError.WriteFile(cfg.output, e.toString))
      }
    // Sibling temp dataset (same FS ⇒ the promote rename is a metadata op,
    // never a byte copy). The suffix keeps concurrent runs apart.
    val tmp = new Path(cfg.output + ".graft-tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    try {
      writeParquetDir(df0, cfg, tmp.toString)
      try {
        // partition 0 always writes a file, even with no rows, so an empty
        // extraction still yields a readable 0-row file with the schema
        val parts = Option(fs.globStatus(new Path(tmp, "part-*")))
          .getOrElse(Array.empty).map(_.getPath).sortBy(_.getName)
        if (parts.isEmpty)
          GraftError.raise(GraftError.WriteFile(cfg.output,
            "single-file write produced no part file"))
        val single =
          if (parts.length == 1) parts.head
          else mergeParts(conf, parts.toSeq, new Path(tmp, "merged.parquet"))
        // mode("overwrite") contract: replace whatever sits at PATH (file
        // or a directory from a previous multi-file run). Delete through
        // the CHECKSUMMED fs so a local .crc sibling of the old target
        // goes with it, then rename through the RAW fs so the temp file's
        // .crc stays behind in tmp (swept below) instead of appearing as
        // litter next to the user's output file.
        if (fs.exists(outPath)) fs.delete(outPath, true)
        val rawFs = fs match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
          case other => other
        }
        if (!rawFs.rename(single, outPath))
          GraftError.raise(GraftError.WriteFile(cfg.output,
            s"rename $single -> $outPath failed"))
      } catch {
        case e: GraftError.GraftException => throw e
        case e: java.io.IOException =>
          GraftError.raise(GraftError.WriteFile(cfg.output, e.toString))
        case scala.util.control.NonFatal(e) =>
          GraftError.raise(GraftError.Parquet(e.toString))
      }
    } finally {
      // tmp holds only the committer droppings (_SUCCESS, .crc, merged
      // parts) after a successful promote — and the partial dataset after
      // a failure.
      try fs.delete(tmp, true) catch { case _: java.io.IOException => () }
    }
  }

  /** Concatenate parquet files into `merged`, row groups in input order,
    * by copying column chunks verbatim (no decode, no re-encode); column
    * and offset indexes and the footer key-value metadata carry over.
    * (`ParquetFileWriter.appendFile` would drop both page indexes.) */
  private def mergeParts(conf: Configuration, parts: Seq[Path], merged: Path): Path = {
    val rewriter = new org.apache.parquet.hadoop.rewrite.ParquetRewriter(
      new org.apache.parquet.hadoop.rewrite.RewriteOptions.Builder(
        conf, parts.asJava, merged).build())
    try rewriter.processBlocks() finally rewriter.close()
    merged
  }

  private def writeParquetDir(df: DataFrame, cfg: ZipToParquetConfig,
      target: String): Unit = {
    try df.write
      .mode("overwrite")
      .option("compression", "snappy") // src/builder.rs:253
      // rows-per-row-group ceiling (src/builder.rs:254); writer options are
      // copied into the task Hadoop conf, where parquet-mr reads this key
      .option("parquet.block.row.count.limit", cfg.rowGroupSize.toString)
      .parquet(target)
    catch {
      // extraction-side typed errors pass through unchanged; failures of
      // the sink itself become WriteFile/Parquet (src/error.rs:9-12,22-24).
      // Executor-side IO errors arrive wrapped in SparkException — walk the
      // cause chain, don't pattern-match the top.
      case e: Throwable if GraftError.unwrap(e).isDefined => throw e
      case e: Throwable if causeChain(e).exists(_.isInstanceOf[java.io.IOException]) =>
        GraftError.raise(GraftError.WriteFile(cfg.output, e.toString))
      case e: org.apache.spark.SparkException =>
        GraftError.raise(GraftError.Parquet(e.toString))
    }
  }

  /** O10 — stdout sink (reference `--stdout`, src/main.rs:72-95,
    * src/builder.rs:243): stream the single-file Parquet bytes to an
    * `OutputStream`. Spark writers target filesystems, so this is the
    * documented two-step — write a temp single-file dataset, then stream
    * the part file out (buffered, so outputs larger than memory are fine,
    * cf. the reference's BufWriter comment src/main.rs:71). */
  def runToStream(spark: SparkSession, cfg: ZipToParquetConfig,
      out: java.io.OutputStream,
      rowProgress: Option[org.apache.spark.util.LongAccumulator] = None)
      : Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stdout").toFile
    val file = new java.io.File(tmp, "out.parquet")
    try {
      // run() in singleFile mode yields a regular FILE at the path —
      // stream it straight out
      run(spark, cfg.copy(output = file.getAbsolutePath, singleFile = true),
        rowProgress)
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(file), 1 << 16)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.flush()
      } finally in.close()
    } finally {
      Option(tmp.listFiles()).foreach(_.foreach(_.delete())); tmp.delete()
    }
  }
}

/** Minimal serializable wrapper for the Hadoop Configuration (the one in
  * spark-core is private[spark]). */
class SerializableConfiguration(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
