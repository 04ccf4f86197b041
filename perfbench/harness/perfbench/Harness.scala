package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.zip.{ZipExtract, ZipToParquetConfig}

/** One expected output row: an entry of the corpus manifest that the
  * workload's glob keeps. */
final case class Entry(archive: String, name: String, len: Long, sha: String)

/** Benchmark harness linked against the compiled program. It times calls
  * into the program's public functions from outside:
  *
  *  - `--mode setup`: build the session, print `READY <epoch ms>`, exit.
  *  - `--trace 0`: the end-to-end measurement (no listener, no spans).
  *  - `--trace 1`: one timed span per layer call, with Spark listener
  *    counts, plus the tracing overhead (same call with and without).
  *
  * Results go to `--result` as JSON; `perfbench/run.py` adds `setup_s`,
  * the oracle check of the query results, and prints the final line.
  */
object Harness {

  /** The query mix: one `SparkEntry.queries` entry per ops module, keyed
    * by the layer it is reported under. */
  val Mix: Seq[(String, String)] = Seq(
    "d_pagerank" -> "DedupOps.loops",
    "d_fuzzy_dedup" -> "DedupOps.pairs",
    "s_ivf_topk_auto" -> "SimilarityOps",
    "t_tfidf" -> "TextOps",
    "q1_agg" -> "RelationalOps",
    "e_basket" -> "EventOps",
    "v_referential" -> "ValidationOps",
    "m_phash_clusters" -> "MultimodalOps")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = opt("cpus")
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    GraftSession.init(spark)
    println(s"READY ${System.currentTimeMillis()}")
    Console.out.flush()
    // a setup sample ends here; skip the orderly shutdown it does not measure
    if (opt("mode") == "setup") Runtime.getRuntime.halt(0)
    spark.sparkContext.setLogLevel("ERROR")
    val bench = new Bench(spark, opt)
    if (opt("trace") == "1") bench.traced() else bench.untraced()
    bench.dumpForOracle()
    bench.writeResult(opt("result"))
    spark.stop()
  }
}

final class Bench(spark: SparkSession, opt: Map[String, String]) {
  import Harness.Mix

  private val workload = opt("workload")
  private val seconds = opt("seconds").toDouble
  private val cpus = opt("cpus").toInt
  private val corpus = opt("corpus")
  private val tables = opt("tables")
  private val work = opt("work")
  private val glob = opt.get("glob").filter(_.nonEmpty)
  private val isMix = workload == "ingest_small_query_mix"

  private val expected: Seq[Entry] =
    Files.readAllLines(Paths.get(corpus, "expected.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(a, n, len, sha) = l.split("\t")
        Entry(a, n, len.toLong, sha)
      }
  private val expBytes = expected.map(_.len).sum
  private val inputs = Seq(new File(corpus, "*.zip").getAbsolutePath)
  private val outFile = s"$work/out.parquet"
  private val cfg = ZipToParquetConfig(inputs, output = outFile, entryGlob = glob)

  // ---- bookkeeping ---------------------------------------------------
  private var attempted = 0
  private var failed = 0
  private val failures = ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val report = ArrayBuffer.empty[String]
  /** query -> (rows, order-independent hash) of its first execution */
  private val reference = mutable.LinkedHashMap.empty[String, (Long, Long)]
  /** query -> the rows of its first execution, which the oracle checks */
  private val firstRows = mutable.Map.empty[String, (StructType, Array[Row])]
  private val executions = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val needsOracle = ArrayBuffer.empty[String]

  private def add(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, ArrayBuffer.empty) += v

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def med(k: String): Double = median(samples.getOrElse(k, Nil).toSeq)

  /** Run one operation: time `body`, check its result outside the timed
    * region, count it as attempted (and failed when the check or the call
    * fails). Returns the seconds taken, or None on failure. */
  private def op[A](what: String)(body: => A)(check: A => Option[String])
      : Option[Double] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val out = body
      val t = (System.nanoTime() - t0) / 1e9
      check(out) match {
        case None => Some(t)
        case Some(err) => failed += 1; failures += s"$what: $err"; None
      }
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: ${e.toString.take(300)}"
        None
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- correctness checks against the manifest ------------------------
  private def baseName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  private def diff[K, V](what: String, got: Map[K, V], want: Map[K, V])
      : Option[String] =
    if (got == want) None
    else {
      val missing = want.keySet.diff(got.keySet).size
      val extra = got.keySet.diff(want.keySet).size
      val wrong = got.count { case (k, v) => want.get(k).exists(_ != v) }
      Some(s"$what differs: $missing missing, $extra unexpected, $wrong wrong " +
        s"(got ${got.size}, want ${want.size})")
    }

  /** Row count, (name, source, hash) multiset, body bytes, and Spark's own
    * sha2(body) against the stored hash. */
  private def checkParquet(path: String): Option[String] = {
    val rows = spark.read.parquet(path)
      .select(col("name"), col("source"), col("hash"),
        octet_length(col("body")).as("len"),
        (sha2(col("body"), 256) === col("hash")).as("ok"))
      .collect()
    val badSha = rows.count(r => !r.getAs[Boolean]("ok"))
    val got = rows.toSeq.map(r => (baseName(r.getString(1)), r.getString(0),
      r.getString(2), r.getInt(3).toLong)).groupBy(identity).map { case (k, v) => k -> v.size }
    val want = expected.map(e => (e.archive, e.name, e.sha, e.len))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val bytes = rows.map(_.getInt(3).toLong).sum
    if (badSha > 0) Some(s"$badSha rows where sha2(body) != hash")
    else if (bytes != expBytes) Some(s"body bytes $bytes != $expBytes")
    else diff("rows", got, want)
  }

  /** Readback query over the output: dedup by hash. */
  private def dedupByHash(path: String): Array[Row] =
    spark.read.parquet(path).groupBy("hash")
      .agg(count(lit(1)).as("n"), max(octet_length(col("body"))).as("len"))
      .collect()

  private def checkDedup(rows: Array[Row]): Option[String] =
    diff("dedup groups",
      rows.map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2).toLong))).toMap,
      expected.groupBy(_.sha).map { case (h, es) => h -> ((es.size.toLong, es.head.len)) })

  private def zipReader = {
    val r = spark.read.format("zip")
    glob.fold(r)(g => r.option("glob", g))
  }

  /** A value as text that does not depend on object identity. */
  private def canon(v: Any): String = v match {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => String.valueOf(x)
  }

  /** Order-independent result fingerprint: row count and the sum of
    * per-row MurmurHash3 values. */
  private def fingerprint(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r => MurmurHash3.stringHash(canon(r)) & 0xffffffffL).sum)

  private def query(q: String): DataFrame = SparkEntry.queries(q)(spark, tables)

  /** One execution of a mix query: plan and collect the whole result (the
    * results are small), the fingerprint is taken afterwards, untimed. The
    * first execution fixes the reference the DuckDB oracle checks; later
    * ones must match it. */
  private def runQuery(q: String): Option[Double] = {
    executions(q) += 1
    op(s"q.$q") { val df = query(q); (df.schema, df.collect()) } { case (schema, rows) =>
      val fp = fingerprint(rows)
      reference.get(q) match {
        case None => reference(q) = fp; firstRows(q) = (schema, rows); None
        case Some(ref) if ref == fp => None
        case Some(ref) => Some(s"result $fp differs from first execution $ref")
      }
    }
  }

  private def fileLen(p: String): Long = new File(p).length()

  /** One `ZipExtract.run`; `verify` checks its output untimed. Without
    * it the caller's timed readback query is the check, so the previous
    * output is removed first and cannot pass for this one. */
  private def ingestOnce(verify: Boolean): Option[Double] = {
    new File(outFile).delete()
    val t = op("ingest")(ZipExtract.run(spark, cfg)) { _ =>
      if (verify) checkParquet(outFile) else None
    }
    t.foreach(_ => add("out_bytes", fileLen(outFile).toDouble))
    t
  }

  // ---- untraced: end-to-end metrics ----------------------------------
  private def round(record: Boolean): Unit = {
    def rec(k: String, t: Option[Double]): Unit = if (record) t.foreach(add(k, _))
    if (isMix) {
      // a small-entry ingest is short: two samples per round
      for (_ <- 0 until 2) rec("ingest", ingestOnce(verify = true))
      Mix.foreach { case (q, _) => rec(s"q.$q", runQuery(q)) }
    } else {
      // the bulk output is read back by two timed queries: the full check
      // (every column, sha2 of every body) and a dedup by hash
      rec("ingest", ingestOnce(verify = false))
      rec("q.readback_verify", op("readback_verify")(checkParquet(outFile))(identity))
      rec("q.readback_dedup", op("readback_dedup")(dedupByHash(outFile))(checkDedup))
    }
  }

  private def queryNames: Seq[String] =
    if (isMix) Mix.map("q." + _._1) else Seq("q.readback_verify", "q.readback_dedup")

  def untraced(): Unit = {
    // Fixed round counts, so every run follows the same warm-up curve:
    // untimed warm-up rounds (JIT, codegen, page cache; the mix's first
    // pass is the costly one), then as many measured rounds as fit
    // --seconds at the round's nominal length.
    val (warmups, nominal, minRounds) = if (isMix) (1, 16.0, 2) else (2, 4.0, 3)
    val w0 = System.nanoTime()
    for (_ <- 0 until warmups) round(record = false)
    report += f"warm-up: $warmups round(s) in ${(System.nanoTime() - w0) / 1e9}%.1f s"
    val rounds = math.max(minRounds, math.round(seconds / nominal).toInt)
    val t0 = System.nanoTime()
    for (_ <- 0 until rounds) round(record = true)
    report += f"measured: $rounds rounds in ${(System.nanoTime() - t0) / 1e9}%.1f s"
    val ingest = med("ingest")
    metrics("ingest_mb_s") = expBytes / 1e6 / ingest
    metrics("ingest_entries_s") = expected.size / ingest
    metrics("output_bytes_ratio") = med("out_bytes") / expBytes
    val qs = queryNames.map(med)
    metrics("query_total_s") = qs.sum
    metrics("query_geomean_s") = math.exp(qs.map(math.log).sum / qs.size)
    metrics("peak_rss_mb") = peakRssMb()
    report += f"corpus: ${expected.size} entries, ${expBytes / 1e6}%.3f MB decompressed"
    samples.foreach { case (k, v) =>
      report += f"  $k%-22s median ${median(v.toSeq)}%.4f  n=${v.size}  " +
        s"samples=${v.map(x => f"$x%.3f").mkString(",")}"
    }
  }

  /** Write the first-execution rows the oracle has not yet verified, for
    * `tools/local_verify.py` (run by run.py after this process exits). */
  def dumpForOracle(): Unit = {
    val verified = opt.get("verified").filter(p => new File(p).exists).toSeq
      .flatMap(p => Files.readAllLines(Paths.get(p)).asScala)
      .filter(_.nonEmpty).map { l =>
        val Array(q, n, h) = l.split("\t"); q -> ((n.toLong, h.toLong))
      }.toMap
    val dir = s"$work/oracle"
    Mix.map(_._1).filter(q => reference.contains(q) && verified.get(q) != reference.get(q))
      .foreach { q =>
        val (schema, rows) = firstRows(q)
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$q.parquet")
        needsOracle += q
      }
    if (needsOracle.nonEmpty) {
      Json.write(s"$dir/oracle_sql.json", needsOracle.map(q => q -> SparkEntry.oracleSql(q)).toMap)
      Json.write(s"$dir/queries_subset.json", needsOracle)
    }
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / 1e6)
      .getOrElse(Double.NaN)

  // ---- traced: per-layer metrics ---------------------------------------
  def traced(): Unit = {
    val tr = new Tracer(s"$workload-${opt("seed")}", spark.sparkContext)
    val dirOut = s"$work/out_dir.parquet"
    def call[A](name: String)(body: => A)(check: A => Option[String] = (_: A) => None) =
      name -> (() => op(name)(body)(check))
    // Each layer call, run inside the span that names its metric.
    val calls = Seq(
      call("zip.list")(ZipExtract.listInputs(spark, inputs)) { ps =>
        val n = new File(corpus).list().count(_.endsWith(".zip"))
        if (ps.size == n) None else Some(s"${ps.size} of $n archives listed")
      },
      call("zip.walk")(noop(ZipExtract.entries(spark,
        cfg.copy(includeBody = false, includeHash = false))))(),
      call("zip.inflate")(noop(ZipExtract.entries(spark, cfg.copy(includeHash = false))))(),
      call("zip.extract")(noop(ZipExtract.entries(spark, cfg)))(),
      call("zip.run")(ZipExtract.run(spark, cfg))(_ => checkParquet(outFile)),
      call("zip.write_dir")(ZipExtract.run(spark,
        cfg.copy(output = dirOut, singleFile = false)))(_ => checkParquet(dirOut)),
      call("sources.scan")(noop(zipReader.load(inputs: _*)))(),
      call("sources.count")(zipReader.load(inputs: _*).count()) { n =>
        if (n == expected.size) None else Some(s"count $n != ${expected.size}")
      },
      call("parquet.readback")(dedupByHash(outFile))(checkDedup))

    tr.attach()
    calls.foreach { case (_, f) => f() } // warm-up round, outside any span
    val on = ArrayBuffer.empty[Double]  // tracing overhead samples
    val off = ArrayBuffer.empty[Double]
    def untraced(body: => Unit): Unit = {
      tr.detach()
      val t0 = System.nanoTime(); body
      off += (System.nanoTime() - t0) / 1e9
      tr.attach()
    }
    tr.span(workload) {
      for (_ <- 0 until 2; (name, f) <- calls) tr.span(name)(f())
      sha256(tr)
      // Overhead: the same call with listener + spans and with neither,
      // alternating which goes first.
      if (isMix) Mix.zipWithIndex.foreach { case ((q, group), i) =>
        runQuery(q) // warm-up execution, untraced
        def traced(): Unit = on += tr.span(group)(tr.span(s"q.$q")(runQuery(q)))._2.seconds
        if (i % 2 == 0) { untraced(runQuery(q)); traced() }
        else { traced(); untraced(runQuery(q)) }
      } else {
        // the mix once, cold, so its layers are measured here too
        Mix.foreach { case (q, group) => tr.span(group)(tr.span(s"q.$q")(runQuery(q))) }
        for (i <- 0 until 3) {
          def traced(): Unit =
            on += tr.span("overhead.zip.run")(ZipExtract.run(spark, cfg))._2.seconds
          if (i % 2 == 0) { untraced(ZipExtract.run(spark, cfg)); traced() }
          else { traced(); untraced(ZipExtract.run(spark, cfg)) }
        }
      }
    }
    tr.detach()
    val (tOn, tOff) = if (isMix) (on.sum, off.sum) else (median(on.toSeq), median(off.toSeq))
    metrics("trace.overhead_s") = tOn - tOff
    metrics("trace.overhead_frac") = (tOn - tOff) / tOff
    report += f"tracing overhead: traced $tOn%.4f s vs untraced $tOff%.4f s"

    def layer(name: String): Seq[Span] = tr.all.filter(_.name == name)
    def secs(name: String) = median(layer(name).map(_.seconds))
    Seq("zip.list", "zip.walk", "zip.inflate", "zip.extract", "zip.run",
      "zip.write_dir", "sources.scan", "sources.count", "parquet.readback")
      .foreach(n => metrics(s"${n}_s") = secs(n))
    metrics("zip.sink_s") = secs("zip.run") - secs("zip.extract")
    val run = layer("zip.run")
    def cnt(k: String) = median(run.map(_.counts(k).toDouble))
    metrics("zip.tasks") = cnt("tasks")
    metrics("zip.shuffle_mb") = cnt("shuffle_bytes") / 1e6
    metrics("zip.spill_mb") = cnt("spill_bytes") / 1e6
    metrics("zip.gc_s") = cnt("gc_ms") / 1e3
    metrics("zip.exec_frac") = median(run.map(execFrac))
    metrics("parquet.row_groups") = rowGroups(outFile)
    Mix.foreach { case (q, group) =>
      val g = layer(group).head
      metrics(s"q.${q}_s") = layer(s"q.$q").head.seconds
      metrics(s"$group.jobs") = g.counts("jobs").toDouble
      metrics(s"$group.tasks") = g.counts("tasks").toDouble
      metrics(s"$group.shuffle_mb") = g.counts("shuffle_bytes") / 1e6
      metrics(s"$group.exec_frac") = execFrac(g)
      metrics(s"$group.gc_s") = g.counts("gc_ms") / 1e3
    }
    tr.write(s"$work/trace.json")
    report += "span self time (s), summed over calls:"
    tr.all.groupBy(_.name).toSeq.sortBy(-_._2.map(tr.selfSeconds).sum).foreach {
      case (n, ss) => report += f"  $n%-24s calls=${ss.size}%2d  " +
        f"total=${ss.map(_.seconds).sum}%8.3f  self=${ss.map(tr.selfSeconds).sum}%8.3f"
    }
  }

  private def execFrac(s: Span): Double = s.counts("run_ms") / 1e3 / (s.seconds * cpus)

  /** `sha256Hex` over every expected body on one thread; the bodies are
    * read up front (outside the span) with java.util.zip. */
  private def sha256(tr: Tracer): Unit = {
    val keep = expected.map(e => (e.archive, e.name)).toSet
    val bodies = new File(corpus).listFiles().filter(_.getName.endsWith(".zip"))
      .sortBy(_.getName).toSeq.flatMap { f =>
        val z = new java.util.zip.ZipFile(f)
        try z.entries().asScala.filter(e => keep((f.getName, e.getName)))
          .map(e => (f.getName, e.getName, z.getInputStream(e).readAllBytes())).toSeq
        finally z.close()
      }
    val want = expected.map(e => (e.archive, e.name) -> e.sha).toMap
    val (_, span) = tr.span("zip.sha256") {
      op("zip.sha256")(bodies.map(b => ((b._1, b._2), ZipExtract.sha256Hex(b._3))).toMap) {
        got => diff("sha256", got, want)
      }
    }
    metrics("zip.sha256_mb_s") = bodies.map(_._3.length.toLong).sum / 1e6 / span.seconds
  }

  private def rowGroups(path: String): Double = {
    val in = HadoopInputFile.fromPath(new Path(path), spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getRowGroups.size.toDouble finally r.close()
  }

  def writeResult(path: String): Unit =
    Json.write(path, Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "metrics" -> metrics.filter(_._2.isFinite),
      "results" -> reference.map { case (q, (n, h)) => q -> Seq(n, h) },
      "executions" -> executions, "needs_oracle" -> needsOracle,
      "report" -> report))
}

/** JSON files for run.py, written with the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: String, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), value)
}
