package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zip.{GlobRegex, GraftError, SerializableConfiguration, ZipExtract}

/** DataSourceV2 `format("zip")` — SURVEY.md §7.2 M3: the reference's two
  * hand-rolled optimizations (src/builder.rs:180-195 — glob-filter entry
  * names BEFORE decompression; read the body only when body/hash columns
  * are needed) promoted into Catalyst-native pushdown contracts, so plain
  * `spark.read.format("zip").load(...).filter(...).select(...)` gets them
  * automatically:
  *
  *   - [[SupportsPushDownFilters]]: deterministic predicates on `name` /
  *     `source` evaluate per entry inside the scan, skipping decompression
  *     for non-matching entries (and whole archives for `source` misses).
  *     `.explain` shows them under `PushedFilters`.
  *   - [[SupportsPushDownRequiredColumns]]: a projection without `body`
  *     and `hash` elides the entry read entirely — the scan then touches
  *     only zip central-directory metadata, the same names-only fast path
  *     as the reference's count pass (src/builder.rs:32-38).
  *   - [[SupportsPushDownAggregates]]: a global COUNT(*) (the reference's
  *     count pass itself, src/builder.rs:24-41) collapses each partition
  *     to ONE row — a names-only walk that counts matching entries with
  *     no row materialization at all; Spark sums the per-archive partials.
  *
  * Options: `glob` (wax-style entry-name glob, as `-g`, src/main.rs:38-40).
  * Partitioning: one [[InputPartition]] per archive — a zip is not
  * splittable (central directory + contiguous entry streams), matching the
  * reference's one-task-per-zip grain (src/builder.rs:49-50,64). At 100 TB
  * the scan parallelism is the archive count; entries stream one at a time
  * so task memory is bounded by one decompressed entry, never an archive.
  */
class ZipDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zip"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipExtract.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ZipTable(new CaseInsensitiveStringMap(properties))
}

class ZipTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "zip"
  override def schema(): StructType = ZipExtract.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ZipScanBuilder(
      // getTable receives the resolved properties; load()-time paths arrive
      // in the scan options — prefer the latter when present.
      if (caseInsensitiveOptions.isEmpty) options else caseInsensitiveOptions)
}

class ZipScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ZipExtract.schema
  private var limit: Int = -1
  private var countStar = false

  /** Accept exactly a global COUNT(*) — grouped or column aggregates keep
    * their row-stream semantics with Spark. Partial pushdown: each archive
    * partition emits its own count and Spark's final aggregate sums them
    * (so `supportCompletePushDown` stays false). */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = limit < 0 &&
      aggregation.groupByExpressions.isEmpty &&
      aggregation.aggregateExpressions.length == 1 &&
      aggregation.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) {
      countStar = true
      required = StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    }
    ok
  }

  /** Per-partition early termination: a task stops walking its archive
    * after `n` emitted rows (no further decompression or even
    * central-directory iteration). Returns false — the limit is only
    * partially pushed (it bounds each partition, not the union), so Spark
    * keeps its own global Limit on top. */
  override def pushLimit(n: Int): Boolean = {
    limit = n
    false
  }

  /** Accept any deterministic filter that references only `name`/`source` —
    * those evaluate before decompression inside the scan. Everything else
    * (`hash`/`body` predicates need the read) stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition { f =>
      f.references.nonEmpty &&
        f.references.forall(r => r == "name" || r == "source") &&
        ZipFilterEval.supported(f)
    }
    pushed = ours
    rest // residual: Spark re-evaluates what we can't
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan =
    new ZipScan(options, pushed, required, limit, countStar)
}

class ZipScan(options: CaseInsensitiveStringMap, filters: Array[Filter],
    required: StructType, limit: Int = -1, countStar: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Runtime (execution-time) filtering on `source` — the archive axis.
    * A broadcast join against a small manifest (the ingest-dedup story:
    * "only archives not yet ingested") hands the scan an IN-set of source
    * paths after the build side materializes; [[planInputPartitions]] then
    * drops whole archives before a single byte is opened. Partition-exact:
    * `source` is constant per archive, so archive-level pruning applies
    * the filter fully and Spark's join stays correct either way. */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("source"))

  override def filter(newFilters: Array[Filter]): Unit =
    runtimeFilters = newFilters.filter { f =>
      f.references.nonEmpty && f.references.forall(_ == "source") &&
        ZipFilterEval.supported(f)
    }

  /** Size estimate from the archive LISTING (no data read), so Catalyst's
    * join-side selection can treat a small zip scan as broadcastable. The
    * estimate is projection-aware, mirroring the read-elision the reader
    * performs: a names-only scan touches central-directory metadata only
    * (~1% of archive bytes), while body/hash projections pay decompression
    * (compressed bytes as the honest lower bound). */
  // listed once per scan — Catalyst may ask for statistics several times
  // while planning, and each glob is remote round-trips
  private lazy val archiveBytes: Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    try paths.flatMap { pat =>
      val p = new Path(pat)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isFile).map(_.getLen)
    }.sum
    catch { case _: Exception => Long.MaxValue }
  }

  override def estimateStatistics(): Statistics = {
    val needsRead = required.fieldNames.contains("body") ||
      required.fieldNames.contains("hash")
    val estimate = if (needsRead) archiveBytes else math.max(archiveBytes / 100, 1)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(estimate)
      override def numRows: java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def description(): String =
    s"ZipScan(glob=${Option(options.get("glob")).getOrElse("*")}, " +
      s"pushed=[${filters.mkString(", ")}], cols=${required.fieldNames.mkString(",")}" +
      (if (limit >= 0) s", limit=$limit" else "") +
      (if (countStar) ", PushedAggregation=[COUNT(*)]" else "") + ")"

  private def paths: Seq[String] = {
    val fromPaths = Option(options.get("paths")).toSeq.flatMap { json =>
      // Spark encodes multi-path load() as a JSON array of strings —
      // parse it as JSON (a naive comma split corrupts paths containing
      // commas or escapes).
      val arr = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]])
      arr.toSeq
    }
    val fromPath = Option(options.get("path")).toSeq
    fromPaths ++ fromPath
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val all = filters ++ runtimeFilters
    ZipExtract.listInputs(spark, paths)
      .filter { case (_, display) => ZipFilterEval.sourceMayMatch(all, display) }
      .map { case (read, display) => ZipInputPartition(read, display) }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val globRegex = Option(options.get("glob")).map(GlobRegex.translate)
    if (countStar) ZipCountReaderFactory(conf, globRegex, filters)
    else {
      // same scale guard as the flatMap path (ZipToParquetConfig.maxBodyBytes):
      // an oversized entry fails typed instead of OOMing the executor
      val maxBodyBytes =
        Option(options.get("maxBodyBytes")).map(_.toLong).getOrElse(1L << 30)
      ZipReaderFactory(conf, globRegex, filters, required.fieldNames, limit,
        maxBodyBytes)
    }
  }
}

/** Pushed-COUNT(*) reader: one row per archive carrying the number of
  * glob/filter-matching entries — names-only walk, zero decompression,
  * zero per-entry rows (the DSv2 form of the reference's count pass,
  * src/builder.rs:24-41). An archive with no matches still emits its 0. */
case class ZipCountReaderFactory(
    conf: SerializableConfiguration,
    globRegex: Option[String],
    filters: Array[Filter]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[ZipInputPartition]
    new PartitionReader[InternalRow] {
      private val pattern = globRegex.map(java.util.regex.Pattern.compile(_))
      private var done = false
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (done) return false
        val zin = ZipEntryWalk.open(part, conf)
        var n = 0L
        try {
          // same walk as the row reader — count ≡ rows the row path emits
          while (ZipEntryWalk.nextMatching(zin, pattern, filters, part) != null) {
            n += 1
          }
        } finally zin.close()
        row = new GenericInternalRow(Array[Any](n))
        done = true
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

case class ZipInputPartition(readPath: String, displayPath: String) extends InputPartition

case class ZipReaderFactory(
    conf: SerializableConfiguration,
    globRegex: Option[String],
    filters: Array[Filter],
    columns: Array[String],
    limit: Int = -1,
    maxBodyBytes: Long = 1L << 30) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ZipInputPartition]
    new ZipPartitionReader(p, conf, globRegex, filters, columns, limit,
      maxBodyBytes)
  }
}

/** The archive walk both DSv2 readers share — open and the
  * filter-matching entry iterator. ONE definition of "which entries this
  * scan emits", so the pushed-COUNT(*) path can never disagree with the
  * row path about what counts as a row. */
private[sources] object ZipEntryWalk {
  /** Test observability: archives actually opened by the DSv2 readers.
    * Counting is OFF unless a test flips [[countOpens]] — production reads
    * carry no global side effect, and parallel queries can't race a
    * counter nobody is incrementing. The pruning assertions that read it
    * assume a single-threaded (one query at a time) test session. */
  val countOpens = new java.util.concurrent.atomic.AtomicBoolean(false)
  val opened = new java.util.concurrent.atomic.AtomicLong

  def open(part: ZipInputPartition,
      conf: SerializableConfiguration): java.util.zip.ZipInputStream =
    try {
      if (countOpens.get) opened.incrementAndGet()
      val p = new Path(part.readPath)
      val fs = p.getFileSystem(conf.value)
      new java.util.zip.ZipInputStream(
        new java.io.BufferedInputStream(fs.open(p), 1 << 16),
        ZipExtract.EntryNameCharset)
    } catch { case e: java.io.IOException =>
      GraftError.raise(GraftError.ReadFile(part.displayPath, e.toString))
    }

  /** Next entry this scan emits (directory-skipping, glob + pushed-filter
    * matching), or null at end of archive. Errors carry the zip taxonomy. */
  def nextMatching(zin: java.util.zip.ZipInputStream,
      pattern: Option[java.util.regex.Pattern],
      filters: Array[Filter],
      part: ZipInputPartition): java.util.zip.ZipEntry = {
    while (true) {
      val e =
        try zin.getNextEntry
        catch { case scala.util.control.NonFatal(x) =>
          // NonFatal (not just ZipException|IOException): JDK ZipCoder throws
          // IllegalArgumentException on malformed UTF-8 entry names — those
          // belong to the same GraftError.Zip contract (src/error.rs:13-16).
          GraftError.raise(GraftError.Zip(part.displayPath, x.toString))
        }
      if (e == null) return null
      if (!e.isDirectory &&
          pattern.forall(_.matcher(e.getName).matches()) &&
          ZipFilterEval.matches(filters, e.getName, part.displayPath)) return e
    }
    null // unreachable
  }
}

/** Streams one archive's entries as InternalRows, honoring pushed filters
  * (pre-decompression) and the pruned projection (read elision). */
class ZipPartitionReader(
    part: ZipInputPartition,
    conf: SerializableConfiguration,
    globRegex: Option[String],
    filters: Array[Filter],
    columns: Array[String],
    limit: Int = -1,
    maxBodyBytes: Long = 1L << 30) extends PartitionReader[InternalRow] {

  private var emitted = 0

  private val needBody = columns.contains("body")
  private val needHash = columns.contains("hash")
  private val needSource = columns.contains("source")

  private val pattern = globRegex.map(java.util.regex.Pattern.compile(_))
  private val zin = ZipEntryWalk.open(part, conf)
  private var current: InternalRow = _
  private var closed = false

  override def next(): Boolean = {
    current = null
    if (limit >= 0 && emitted >= limit) {
      if (!closed) { closed = true; zin.close() }
      return false
    }
    if (closed) return false
    // pushed name/source predicates run BEFORE the entry read — the DSv2
    // form of src/builder.rs:180-183 (shared walk with the COUNT(*) path)
    val e = ZipEntryWalk.nextMatching(zin, pattern, filters, part)
    if (e == null) { closed = true; zin.close(); return false }
    var body: Array[Byte] = null
    var hash: String = null
    if (needBody || needHash) { // read elision: src/builder.rs:185
      // shared hardened read: maxBodyBytes guard + typed mid-inflate
      // errors, identical to the flatMap path's semantics
      val bytes = ZipExtract.readEntry(zin, maxBodyBytes, e.getName,
        part.displayPath, e.getSize)
      if (needHash) hash = ZipExtract.sha256Hex(bytes)
      if (needBody) body = bytes
    }
    val values = columns.map {
      case "name" => UTF8String.fromString(e.getName)
      case "source" => if (needSource) UTF8String.fromString(part.displayPath) else null
      case "body" => body
      case "hash" => if (hash != null) UTF8String.fromString(hash) else null
    }
    current = new GenericInternalRow(values.asInstanceOf[Array[Any]])
    emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (!closed) { closed = true; zin.close() }
}

/** Driver/executor-side evaluation of the pushed v1 filters over the two
  * pre-read columns. Conservative: unknown filter shapes are unsupported
  * (never pushed), and `sourceMayMatch` only prunes archives on predicates
  * that reference `source` alone. */
object ZipFilterEval {
  def supported(f: Filter): Boolean = f match {
    case _: sources.EqualTo | _: sources.StringStartsWith |
         _: sources.StringEndsWith | _: sources.StringContains |
         _: sources.In | _: sources.IsNotNull | _: sources.IsNull => true
    case sources.And(l, r) => supported(l) && supported(r)
    case sources.Or(l, r) => supported(l) && supported(r)
    case sources.Not(c) => supported(c)
    case _ => false
  }

  /** Evaluate one entry (name, source) against every pushed filter. */
  def matches(filters: Array[Filter], name: String, source: String): Boolean =
    filters.forall(eval(_, Map("name" -> name, "source" -> source)))

  /** Archive-level pruning: can any entry of this archive pass? Filters
    * referencing only `source` are decidable before opening the zip. */
  def sourceMayMatch(filters: Array[Filter], source: String): Boolean =
    filters.filter(_.references.forall(_ == "source"))
      .forall(eval(_, Map("source" -> source)))

  private def eval(f: Filter, row: Map[String, String]): Boolean = f match {
    case sources.EqualTo(a, v) => row.get(a).contains(String.valueOf(v))
    case sources.StringStartsWith(a, v) => row.get(a).exists(_.startsWith(v))
    case sources.StringEndsWith(a, v) => row.get(a).exists(_.endsWith(v))
    case sources.StringContains(a, v) => row.get(a).exists(_.contains(v))
    case sources.In(a, vs) => row.get(a).exists(x => vs.map(String.valueOf).contains(x))
    case sources.IsNotNull(a) => row.get(a).exists(_ != null)
    case sources.IsNull(a) => row.get(a).forall(_ == null)
    case sources.And(l, r) => eval(l, row) && eval(r, row)
    case sources.Or(l, r) => eval(l, row) || eval(r, row)
    case sources.Not(c) => !eval(c, row)
    case _ => true
  }
}
