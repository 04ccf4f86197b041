package graft.zip

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec

/** Edge cases from SURVEY.md §7.6: oversized entries (maxBodyBytes guard),
  * non-ASCII entry names, zip64 archives (entry count past the 65535
  * classic-format limit), plus the SQL registration of the native
  * functions. */
class ZipRobustnessSpec extends SparkSpec {

  private lazy val dir: File = {
    val d = Files.createTempDirectory("graft_robust").toFile
    d.deleteOnExit()
    d
  }

  test("vec_dot is SQL-callable after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
    // mixed types: float column vs long literal array
    val r2 = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT)), array(2L)) AS d")
      .collect()(0).getDouble(0)
    assert(r2 == 3.0)
  }

  test("maxBodyBytes guards against oversized entries (typed EntryTooLarge)") {
    val f = new File(dir, "big.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("big.bin"))
    z.write(new Array[Byte](4096))
    z.closeEntry(); z.close()
    val cfg = ZipToParquetConfig(inputs = Seq(f.getAbsolutePath), maxBodyBytes = 100)
    val e = intercept[Exception] {
      ZipExtract.entries(spark, cfg).collect()
    }
    assert(GraftError.unwrap(e).exists(_.isInstanceOf[GraftError.EntryTooLarge]))
  }

  test("DSv2 reader honors the maxBodyBytes option (typed EntryTooLarge)") {
    val f = new File(dir, "big2.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("big.bin"))
    z.write(new Array[Byte](4096))
    z.closeEntry(); z.close()
    val e = intercept[Exception] {
      spark.read.format("zip").option("maxBodyBytes", "100")
        .load(f.getAbsolutePath).collect()
    }
    assert(GraftError.unwrap(e).exists(_.isInstanceOf[GraftError.EntryTooLarge]))
    // under the limit → reads fine
    assert(spark.read.format("zip").option("maxBodyBytes", "8192")
      .load(f.getAbsolutePath).count() == 1)
  }

  test("truncated entry stream raises typed ReadFileInZip (error.rs:17-21)") {
    val good = new File(dir, "tr_good.zip")
    val z = new ZipOutputStream(new FileOutputStream(good))
    z.putNextEntry(new ZipEntry("a.bin"))
    val rnd = new scala.util.Random(7)
    val body = new Array[Byte](50000)
    rnd.nextBytes(body) // incompressible → deflated ≈ 50KB, cut lands mid-stream
    z.write(body)
    z.closeEntry(); z.close()
    val bytes = Files.readAllBytes(good.toPath)
    val bad = new File(dir, "truncated.zip")
    Files.write(bad.toPath, bytes.take(bytes.length / 2)) // cut mid-deflate
    val e = intercept[Exception] {
      ZipExtract.entries(spark,
        ZipToParquetConfig(inputs = Seq(bad.getAbsolutePath))).collect()
    }
    assert(GraftError.unwrap(e).exists {
      case _: GraftError.ReadFileInZip | _: GraftError.Zip => true
      case _ => false
    })
  }

  test("archive vanishing between plan and read raises typed ReadFile (error.rs:5-8)") {
    val f = new File(dir, "vanish.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("x")); z.write("x".getBytes); z.closeEntry(); z.close()
    val df = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
    assert(f.delete())
    val e = intercept[Exception] { df.collect() }
    assert(GraftError.unwrap(e).exists(_.isInstanceOf[GraftError.ReadFile]))
  }

  test("run() without an output raises typed NeedsOutputOrStdout (error.rs:41)") {
    val e = intercept[GraftError.GraftException] {
      ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq("whatever")))
    }
    assert(e.err == GraftError.NeedsOutputOrStdout)
  }

  test("row-group-size knob: groups in the footer honor the rows ceiling") {
    val f = new File(dir, "rg.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    (0 until 10).foreach { i =>
      z.putNextEntry(new ZipEntry(s"e$i.txt")); z.write(s"body$i".getBytes); z.closeEntry()
    }
    z.close()
    val out = new File(dir, "rg_out.parquet")
    ZipExtract.run(spark, ZipToParquetConfig(inputs = Seq(f.getAbsolutePath),
      output = out.getAbsolutePath, rowGroupSize = 3))
    // run() now writes a regular FILE at the path (single-file contract)
    assert(out.isFile)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(out.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val groups = reader.getRowGroups
      // 10 rows at a 3-row ceiling → 4 groups of (3,3,3,1), like the
      // reference's set_max_row_group_size (src/builder.rs:254)
      assert(groups.size() == 4, s"expected 4 row groups, got ${groups.size()}")
      val counts = (0 until groups.size()).map(i => groups.get(i).getRowCount)
      assert(counts.forall(_ <= 3) && counts.sum == 10)
    } finally reader.close()
  }

  test("quirkQuotedHash reproduces the reference's quote-wrapped stored hash (B2)") {
    val f = new File(dir, "quirk.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    z.putNextEntry(new ZipEntry("a.txt")); z.write("hi".getBytes); z.closeEntry()
    z.close()
    val plain = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
      .collect()(0).getString(3)
    val quirk = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath), quirkQuotedHash = true))
      .collect()(0).getString(3)
    assert(quirk == "\"" + plain + "\"")
    assert(plain.length == 64 && !plain.contains("\""))
  }

  test("cp437 entry names decode correctly (APPNOTE D.2; wax-lossy divergence)") {
    // ZipOutputStream with an explicit non-UTF8 charset writes names in
    // that charset WITHOUT the EFS flag — the case the reference's wax
    // crate mangles lossily and ZipInputStream(in, cp437) decodes exactly.
    val f = new File(dir, "cp437.zip")
    val z = new ZipOutputStream(new FileOutputStream(f),
      java.nio.charset.Charset.forName("IBM437"))
    val name = "ñandú_café.txt" // every char exists in cp437
    z.putNextEntry(new ZipEntry(name)); z.write("x".getBytes); z.closeEntry()
    z.close()
    val got = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(name))
    // and via the DSv2 path
    val got2 = spark.read.format("zip").load(f.getAbsolutePath)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(got2 == Seq(name))
  }

  test("non-ASCII UTF-8 entry names round-trip") {
    val f = new File(dir, "utf8.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    val names = Seq("café/résumé.txt", "数据/文件.bin")
    names.foreach { n =>
      z.putNextEntry(new ZipEntry(n)); z.write("x".getBytes); z.closeEntry()
    }
    z.close()
    val got = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath)))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == names.sorted)
  }

  test("zip64: archives with more than 65535 entries extract completely") {
    val f = new File(dir, "many.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    val n = 70000
    var i = 0
    while (i < n) {
      z.putNextEntry(new ZipEntry(s"e$i"))
      z.closeEntry()
      i += 1
    }
    z.close()
    // names-only config → central-directory-style pass, no body reads
    val cfg = ZipToParquetConfig(inputs = Seq(f.getAbsolutePath),
      includeBody = false, includeHash = false)
    assert(ZipExtract.entries(spark, cfg).count() == n)
  }

  /** Fuzz corpus shared by the flatMap-path and DSv2-path trials: a valid
    * 8-entry archive plus a seeded mutator (bit flips / truncation). */
  private lazy val fuzzBase: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    for (i <- 0 until 8) {
      z.putNextEntry(new ZipEntry(s"doc$i.txt"))
      z.write(s"fuzz payload $i ".getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private def mutateArchive(rnd: scala.util.Random, kind: Int): Array[Byte] = {
    val mutated = fuzzBase.clone()
    if (kind == 2) {
      mutated.take(1 + rnd.nextInt(mutated.length - 1)) // truncate
    } else {
      val flips = 1 + rnd.nextInt(8)
      for (_ <- 0 until flips) {
        val at = rnd.nextInt(mutated.length)
        mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      }
      mutated
    }
  }

  /** Run `body` on a mutated archive; pass iff it succeeds OR fails with a
    * typed GraftError somewhere in the cause chain. */
  private def assertTypedOrClean(trial: Int, label: String)(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        val typed = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(10)
          .exists(_.isInstanceOf[GraftError.GraftException])
        assert(typed,
          s"$label trial $trial: untyped failure ${e.getClass.getName}: ${e.getMessage}")
    }

  test("corrupted archives fail TYPED or extract cleanly, never a raw executor error") {
    // O15 fuzz: random byte flips and truncations of a valid archive must
    // surface as the GraftError taxonomy (a harmless mutation may still
    // extract) — a raw ZipException/EOF/NPE escaping to the user means a
    // hole in the error mapping. Seeded: failures reproduce.
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 25) {
      val bytes = mutateArchive(rnd, trial % 3)
      val f = new File(dir, s"fuzz_$trial.zip")
      val out = new FileOutputStream(f); out.write(bytes); out.close()
      assertTypedOrClean(trial, "flatMap") {
        val n = ZipExtract.entries(spark,
          ZipToParquetConfig(inputs = Seq(f.getAbsolutePath))).count()
        assert(n >= 0) // mutation survived — fine
      }
    }
  }

  test("DSv2: corrupted archives fail TYPED on both row and pushed-COUNT(*) paths") {
    // The v2 source shares ZipEntryWalk between the row reader and the
    // pushed-aggregate COUNT(*) reader — fuzz both through
    // spark.read.format("zip") with the same seeded mutations so the typed
    // GraftError contract is proven for the whole DSv2 surface, not just
    // the flatMap path.
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 25) {
      val bytes = mutateArchive(rnd, trial % 3)
      val f = new File(dir, s"fuzz_v2_$trial.zip")
      val out = new FileOutputStream(f); out.write(bytes); out.close()
      val path = f.getAbsolutePath
      assertTypedOrClean(trial, "dsv2-count") {
        // COUNT(*) with no filters → pushed down to the names-only walk
        assert(spark.read.format("zip").load(path).count() >= 0)
      }
      assertTypedOrClean(trial, "dsv2-rows") {
        // full row read → body inflation + hashing through the row reader
        assert(spark.read.format("zip").load(path)
          .select("name", "body", "hash").collect().length >= 0)
      }
    }
  }

  test("property: arbitrary byte corruption fails TYPED or extracts (shrinks to minimal mutation)") {
    // The seeded loops above replay a fixed corpus; this property explores
    // fresh mutations every run and, on failure, scalacheck SHRINKS the
    // mutation list — a future taxonomy hole reproduces as the minimal
    // bit-flip/truncation that triggers it, not a 25-trial haystack.
    // The reported seed (scalacheck prints it on failure) replays exactly.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val len = fuzzBase.length
    val mutationGen: Gen[Either[Int, List[(Int, Int)]]] = Gen.oneOf(
      Gen.choose(1, len - 1).map(Left(_)), // truncation point
      Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(0, len - 1), Gen.choose(0, 7))).map(Right(_)))
    var n = 0
    val prop = Prop.forAll(mutationGen) { m =>
      val bytes = m match {
        case Left(at) => fuzzBase.take(at)
        case Right(flips) =>
          val b = fuzzBase.clone()
          flips.foreach { case (at, bit) => b(at) = (b(at) ^ (1 << bit)).toByte }
          b
      }
      n += 1
      val f = new File(dir, s"fuzz_prop_$n.zip")
      val out = new FileOutputStream(f); out.write(bytes); out.close()
      try {
        ZipExtract.entries(spark,
          ZipToParquetConfig(inputs = Seq(f.getAbsolutePath))).count() >= 0
      } catch {
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
            .exists(_.isInstanceOf[GraftError.GraftException])
      }
    }
    // Replayable randomness: unseeded runs make a latent taxonomy hole an
    // intermittent, hard-to-bisect CI failure. The initial seed is logged
    // on every run and pinnable via GRAFT_FUZZ_SEED, so any failure
    // replays verbatim (fresh exploration is preserved — the seed still
    // varies run to run unless pinned).
    val seedLong = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    info(s"corruption property seed: $seedLong (replay with GRAFT_FUZZ_SEED=$seedLong)")
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20)
        .withInitialSeed(org.scalacheck.rng.Seed(seedLong)), prop)
    assert(res.passed,
      s"corruption property failed (replay with GRAFT_FUZZ_SEED=$seedLong): ${res.status}")
  }

  test("O13: cancellation mid-extraction leaves no committed output") {
    // Reference parity: Ctrl-C deletes the incomplete parquet and exits
    // cleanly (src/builder.rs:294-322). Here the contract is delegated to
    // Spark's commit protocol: a job cancelled mid-write must abort —
    // no _SUCCESS marker, no committed part files.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
    // The write must outlive the async cancel: incompressible (seeded
    // -random) bodies defeat snappy, and a tiny row-group ceiling forces
    // a flush every 32 rows — together the write takes seconds, so the
    // listener-fired cancel reliably lands mid-write (the Success branch
    // below is a last-resort race guard, not the expected path).
    val f = new File(dir, "cancel.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    val rnd = new scala.util.Random(13)
    val body = new Array[Byte](8192)
    var i = 0
    while (i < 20000) {
      rnd.nextBytes(body)
      z.putNextEntry(new ZipEntry(s"c$i.bin")); z.write(body); z.closeEntry()
      i += 1
    }
    z.close()
    val out = new File(dir, "cancel_out").getAbsolutePath
    val sc = spark.sparkContext
    @volatile var fired = false
    val listener = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (!fired) { fired = true; sc.cancelJobGroup("graft-o13-cancel") }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-o13-cancel", "O13 cancellation parity",
        interruptOnCancel = true)
      val res = scala.util.Try(ZipExtract.run(spark,
        ZipToParquetConfig(inputs = Seq(f.getAbsolutePath), output = out,
          rowGroupSize = 32)))
      res match {
        case scala.util.Failure(_) =>
          // Cancel landed mid-write: commit protocol must have aborted.
          val od = new File(out)
          assert(!new File(od, "_SUCCESS").exists,
            "job committed despite cancellation")
          val committed = Option(od.listFiles()).getOrElse(Array.empty[File])
            .filter(_.getName.endsWith(".parquet"))
          assert(committed.isEmpty,
            s"committed part files remain: ${committed.mkString(", ")}")
        case scala.util.Success(_) =>
          // On a fast box the single write task can finish before the
          // async cancel lands; there is then nothing to assert about
          // abort behavior — mark the test canceled rather than failed.
          cancel("write completed before cancellation landed (race lost)")
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("readEntry sizes its buffer from the header when it can: STORED " +
      "(size known) and data-descriptor (size -1) entries read exactly, " +
      "and both honour maxBodyBytes") {
    val rnd = new scala.util.Random(11)
    val stored = new Array[Byte](20000); rnd.nextBytes(stored)
    val deflated = Array.tabulate[Byte](30000)(i => (i % 97).toByte)
    val f = new File(dir, "sizes.zip")
    val z = new ZipOutputStream(new FileOutputStream(f))
    val se = new ZipEntry("stored.bin")
    val crc = new java.util.zip.CRC32(); crc.update(stored)
    se.setMethod(ZipEntry.STORED); se.setSize(stored.length.toLong)
    se.setCompressedSize(stored.length.toLong); se.setCrc(crc.getValue)
    z.putNextEntry(se); z.write(stored); z.closeEntry()
    z.putNextEntry(new ZipEntry("deflated.bin")); z.write(deflated); z.closeEntry()
    z.close()
    val bodies = Map("stored.bin" -> stored, "deflated.bin" -> deflated)

    def eachEntry(maxBytes: Long)(check: (ZipEntry, () => Array[Byte]) => Unit): Unit = {
      val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(f))
      try {
        var e = zin.getNextEntry
        while (e != null) {
          val entry = e
          check(entry, () => ZipExtract.readEntry(zin, maxBytes, entry.getName,
            f.getName, entry.getSize))
          e = zin.getNextEntry
        }
      } finally zin.close()
    }
    var sizes = Map.empty[String, Long]
    eachEntry(1L << 20) { (e, read) =>
      sizes += e.getName -> e.getSize
      assert(read().sameElements(bodies(e.getName)), s"body of ${e.getName}")
    }
    // the two header shapes the buffer sizing distinguishes
    assert(sizes == Map("stored.bin" -> stored.length.toLong, "deflated.bin" -> -1L))
    // a body of exactly maxBodyBytes reads; one byte less raises EntryTooLarge
    for (name <- bodies.keys) {
      val n = bodies(name).length.toLong
      eachEntry(n) { (e, read) =>
        if (e.getName == name) assert(read().sameElements(bodies(name)))
      }
      eachEntry(n - 1) { (e, read) =>
        if (e.getName == name) {
          val err = intercept[GraftError.GraftException](read())
          assert(err.err.isInstanceOf[GraftError.EntryTooLarge], s"$name: ${err.err}")
        }
      }
    }
    // and end to end through the extractor
    val rows = ZipExtract.entries(spark,
      ZipToParquetConfig(inputs = Seq(f.getAbsolutePath))).collect()
    assert(rows.map(r => r.getString(0) -> r.getAs[Array[Byte]](2).toSeq).toMap ==
      bodies.map { case (k, v) => k -> v.toSeq })
  }

  /** A single DEFLATED entry whose local header carries the sizes (no data
    * descriptor) and claims `claimedSize` uncompressed bytes. Only the local
    * header is written: `ZipInputStream` never reads the central directory. */
  private def headerSizedEntry(name: String, body: Array[Byte],
      claimedSize: Long): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(body); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    val data = out.toByteArray
    val crc = new java.util.zip.CRC32(); crc.update(body)
    val nameBytes = name.getBytes("UTF-8")
    val h = java.nio.ByteBuffer.allocate(30 + nameBytes.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    h.putInt(0x04034b50).putShort(20.toShort).putShort(0.toShort) // sig, version, flags
      .putShort(ZipEntry.DEFLATED.toShort).putShort(0.toShort).putShort(0.toShort)
      .putInt(crc.getValue.toInt).putInt(data.length).putInt(claimedSize.toInt)
      .putShort(nameBytes.length.toShort).putShort(0.toShort).put(nameBytes)
    h.array ++ data
  }

  test("readEntry does not let an entry header's size decide a large " +
      "allocation: a 1 GiB claim over a 100-byte body fails typed " +
      "(ReadFileInZip) having allocated no more than the initial cap") {
    val maxBytes = ZipToParquetConfig(inputs = Seq("unused")).maxBodyBytes
    assert(maxBytes >= (1L << 30), "the claim must fit under maxBodyBytes")
    def read(archive: Array[Byte]): Array[Byte] = {
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(archive))
      try {
        val e = zin.getNextEntry
        ZipExtract.readEntry(zin, maxBytes, e.getName, "lying.zip", e.getSize)
      } finally zin.close()
    }
    val body = Array.tabulate[Byte](100)(_.toByte)
    val lying = headerSizedEntry("claims-1g.bin", body, 1L << 30)
    assert(lying.length < 200)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = threads.getCurrentThreadAllocatedBytes
    val err = intercept[GraftError.GraftException](read(lying))
    val allocated = threads.getCurrentThreadAllocatedBytes - before
    err.err match {
      case GraftError.ReadFileInZip(_, _, cause) =>
        assert(cause.contains("invalid entry size"), cause)
      case other => fail(s"expected ReadFileInZip, got $other")
    }
    assert(allocated < 2L * ZipExtract.ReadEntryInitialCap,
      s"allocated $allocated bytes for a 100-byte body")
    // an honest header-sized body past the cap still reads exactly
    val big = Array.tabulate[Byte](ZipExtract.ReadEntryInitialCap + 1000)(i =>
      (i % 251).toByte)
    assert(read(headerSizedEntry("honest.bin", big, big.length.toLong))
      .sameElements(big))
  }
}
