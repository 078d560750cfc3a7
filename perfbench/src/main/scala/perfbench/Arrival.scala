package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.Streams

/** The `xlsx_arrival` workload: the reference's object-arrival ETL
  * (notification → accept predicate → XLSX read → warehouse write) under
  * an open-loop generator.
  *
  * Every workbook and notification file is built before timing starts.
  * A lander thread then publishes each object by atomic rename at its
  * due time: the workbook first, then its notification, as an object
  * store finalizes the object before it notifies. A steady phase lands
  * objects as a seeded Poisson stream at a fixed offered rate; a burst
  * phase then lands a backlog at once and times its drain. Decoys that
  * the pipeline must never write (wrong prefix, `.csv`, upper-case
  * `.XLSX`, a `..` segment) land in that backlog.
  *
  * Latency runs from an object's due time to the mtime of its warehouse
  * `_SUCCESS` marker, so a generator or engine stall counts against the
  * objects that wait behind it. */
object Arrival {

  /** `phase` is `lead` (lands before the schedule, unmeasured), `steady`
    * or `burst`. */
  final case class Obj(idx: Int, name: String, rows: Int, decoy: Boolean, phase: String,
                       dueS: Double, checksum: Long, var bytes: Long = 0L,
                       var landedMs: Long = -1L)

  private val Prefix = "minha-pasta/"

  /** Workbook row counts: stratified draws from a Pareto(alpha) law
    * truncated to [lo, hi], shuffled by the seed. Every run sees the same
    * multiset of sizes, so seeds move the order, not the size mix. */
  def sizes(n: Int, lo: Int, hi: Int, alpha: Double, rng: scala.util.Random): Seq[Int] = {
    val c = 1 - math.pow(lo.toDouble / hi, alpha)
    rng.shuffle((0 until n).map { i =>
      val u = (i + 0.5) / n
      math.round(lo * math.pow(1 - u * c, -1 / alpha)).toInt
    })
  }

  /** Exponential inter-arrival gaps at `rate`, stratified the same way. */
  def gaps(n: Int, rate: Double, rng: scala.util.Random): Seq[Double] =
    rng.shuffle((0 until n).map(i => -math.log(1 - (i + 0.5) / n) / rate))

  /** Rows of a lineitem slice, generated from the object's own seed. */
  def slice(seed: Long, idx: Int, n: Int): (Seq[String], Iterator[Seq[Any]]) = {
    val header = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val rng = new java.util.SplittableRandom(seed * 1000003L + idx)
    val base = idx.toLong * 100000L
    val day0 = java.time.LocalDate.of(1995, 1, 2)
    (header, Iterator.tabulate(n) { i =>
      Seq(base + i / 4, rng.nextLong(200000), rng.nextLong(10000), i % 4 + 1,
        rng.nextInt(1, 51).toDouble, rng.nextInt(90000, 10500000) / 100.0,
        rng.nextInt(0, 11) / 100.0, rng.nextInt(0, 9) / 100.0,
        "ANR".charAt(rng.nextInt(3)).toString, "FO".charAt(rng.nextInt(2)).toString,
        day0.plusDays(rng.nextLong(2498)).toString)
    })
  }

  /** Σ(l_orderkey * 8 + l_linenumber): the key checksum the warehouse
    * rows of an object must reproduce. */
  def checksum(idx: Int, n: Int): Long =
    (0 until n).map(i => (idx.toLong * 100000L + i / 4) * 8 + (i % 4 + 1)).sum

  /** A one-sheet workbook: numbers as numeric cells, text as inline
    * strings. */
  def writeWorkbook(path: Path, header: Seq[String], rows: Iterator[Seq[Any]]): Long = {
    def ref(c: Int, r: Int) = s"${('A' + c).toChar}$r"
    val sb = new java.lang.StringBuilder(1 << 20)
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      .append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def row(r: Int, vals: Seq[Any]): Unit = {
      sb.append("<row r=\"").append(r).append("\">")
      vals.zipWithIndex.foreach {
        case (s: String, c) =>
          sb.append("<c r=\"").append(ref(c, r)).append("\" t=\"inlineStr\"><is><t>")
            .append(s).append("</t></is></c>")
        case (v, c) =>
          sb.append("<c r=\"").append(ref(c, r)).append("\"><v>").append(v).append("</v></c>")
      }
      sb.append("</row>")
    }
    row(1, header)
    var r = 2
    rows.foreach { v => row(r, v); r += 1 }
    sb.append("</sheetData></worksheet>")
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          "</Types>"),
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          "</Relationships>"),
      "xl/worksheets/sheet1.xml" -> sb.toString)
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try parts.foreach { case (name, body) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
    Files.size(path)
  }

  /** Streaming progress of the measured query, kept for the trace. */
  final class Progress extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { batches += e.progress }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private final class Dirs(root: String) {
    val notif = Paths.get(root, "notif")
    val landing = Paths.get(root, "landing")
    val warehouse = Paths.get(root, "warehouse")
    val checkpoint = Paths.get(root, "checkpoint")
    Seq(notif, landing.resolve(Prefix), warehouse).foreach(Files.createDirectories(_))
  }

  private def landingPath(d: Dirs, name: String): Path = d.landing.resolve(name).normalize

  /** Objects whose warehouse `_SUCCESS` marker exists, by index, with the
    * marker's mtime in epoch microseconds. */
  private def commits(d: Dirs): Map[Int, Long] = {
    val pat = "[od](\\d{5})".r
    val s = Files.list(d.warehouse)
    try s.iterator().asScala.flatMap { dir =>
      val ok = dir.resolve("_SUCCESS")
      pat.findFirstMatchIn(dir.getFileName.toString).filter(_ => Files.exists(ok)).map { m =>
        m.group(1).toInt -> Files.getLastModifiedTime(ok).to(java.util.concurrent.TimeUnit.MICROSECONDS)
      }
    }.toMap
    finally s.close()
  }

  def run(conf: Main.Conf, res: Main.Result): Unit = {
    val seed = conf("seed").toLong
    val seconds = conf.double("seconds")
    val rate = conf.double("rate_per_s")
    val traced = conf("trace") == "1"
    val rng = new scala.util.Random(seed)
    val work = conf("work")
    val lo = conf.int("rows_min")
    val hi = conf.int("rows_max")
    val alpha = conf.double("size_alpha")
    val nSteady = math.max(1, math.round(seconds * rate).toInt)
    val nBurst = conf.int("burst_objects")

    // ---- plan (from the seed only) ----
    val objs = mutable.ArrayBuffer.empty[Obj]
    def add(name: String, rows: Int, decoy: Boolean, phase: String, due: Double): Unit = {
      val idx = objs.size
      objs += Obj(idx, name.replace("#", f"$idx%05d"), rows, decoy, phase, due,
        checksum(idx, rows))
    }
    // two lead objects take the live stream's first-batch costs before
    // the measured schedule starts
    for (_ <- 0 until 2) add(s"${Prefix}o#.xlsx", lo, decoy = false, "lead", 0.0)
    // steady objects come from the lower part of the size law, so the
    // steady latency reads service time rather than queueing behind a
    // rare giant; the burst carries the whole heavy tail.
    // The steady schedule (gaps and sizes) is one fixed seeded Poisson
    // trace: with a schedule drawn per run, which objects happened to
    // queue behind which moved the latency percentiles by a third between
    // seeds. The run's seed still draws every workbook's contents, the
    // burst order and the decoys' places.
    val schedule = new scala.util.Random(conf("schedule_seed").toLong)
    val steadySizes = sizes(nSteady, lo, conf.int("steady_rows_max"), alpha, schedule)
    var t = 0.0
    gaps(nSteady, rate, schedule).zip(steadySizes).foreach { case (g, n) =>
      t += g
      add(s"${Prefix}o#.xlsx", n, decoy = false, "steady", t)
    }
    // decoys sit at seeded places in the burst backlog, where they share
    // micro-batches with real objects; each carries a real workbook, so a
    // pipeline that wrongly accepted one would ingest rows the check finds
    val decoys = Seq("outra-pasta/d#.xlsx", s"${Prefix}d#.csv", s"${Prefix}d#.XLSX", s"$Prefix../d#.xlsx")
    rng.shuffle(sizes(nBurst, lo, hi, alpha, rng).map(n => (s"${Prefix}o#.xlsx", n, false)) ++
      decoys.map(d => (d, lo, true)))
      .foreach { case (n, rows, decoy) => add(n, rows, decoy, "burst", 0.0) }
    if (conf.get("plant_fault").contains("1")) {
      // planted fault: one ordinary object is expected to be a decoy,
      // so the check must report a decoy in the warehouse
      val o = objs.find(!_.decoy).get
      objs(o.idx) = o.copy(decoy = true)
    }

    val (spark, buildS) = Main.buildSessions(conf, 3)

    // ---- inputs, built before any timing ----
    val staging = Paths.get(work, "staging")
    Files.createDirectories(staging)
    for (o <- objs) {
      val (h, rows) = slice(seed, o.idx, o.rows)
      o.bytes = writeWorkbook(staging.resolve(f"wb${o.idx}%05d.xlsx"), h, rows)
    }
    import spark.implicits._
    objs.toSeq.map(o => (o.idx, f"tma-${o.idx % 3}", o.name, o.bytes)).toDF("idx", "bucket", "name", "size_bytes")
      .coalesce(1).write.partitionBy("idx").parquet(staging.resolve("notif").toString)
    def notifFile(o: Obj): Path = {
      val s = Files.list(staging.resolve("notif").resolve(s"idx=${o.idx}"))
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get finally s.close()
    }
    val notifs = objs.map(o => o.idx -> notifFile(o)).toMap

    // ---- warm pass: two workbooks through the same pipeline, drained
    // with AvailableNow, so JIT and first-use costs land in set-up ----
    val w0 = System.nanoTime()
    val warm = new Dirs(s"$work/warm")
    for (i <- 0 until 2) {
      val (h, rows) = slice(seed, 90000 + i, lo)
      writeWorkbook(warm.landing.resolve(s"${Prefix}w$i.xlsx"), h, rows)
    }
    Seq(("tma-0", s"${Prefix}w0.xlsx", 1L), ("tma-0", s"${Prefix}w1.xlsx", 1L))
      .toDF("bucket", "name", "size_bytes").write.parquet(warm.notif.resolve("n").toString)
    Streams.xlsxEtl(spark, warm.notif.resolve("n").toString, warm.landing.toString,
      warm.warehouse.toString, warm.checkpoint.toString).awaitTermination(120000)
    val warmS = (System.nanoTime() - w0) / 1e9

    // ---- timed: open-loop lander against a running stream ----
    val trace = if (traced) { val tr = new Trace; tr.install(spark); Some(tr) } else None
    val progress = new Progress
    if (traced) spark.streams.addListener(progress)
    val dirs = new Dirs(s"$work/live")
    val gc0 = Main.gcSeconds()
    val steal0 = Main.stealSeconds()
    val query = Streams.xlsxEtl(spark, dirs.notif.toString, dirs.landing.toString,
      dirs.warehouse.toString, dirs.checkpoint.toString,
      envelope = Streams.TriggerEnvelope(conf.int("max_files_per_trigger"), Some("0 seconds")))
    def land(o: Obj): Unit = {
      val dst = landingPath(dirs, o.name)
      Files.createDirectories(dst.getParent)
      Files.move(staging.resolve(f"wb${o.idx}%05d.xlsx"), dst, StandardCopyOption.ATOMIC_MOVE)
      Files.move(notifs(o.idx), dirs.notif.resolve(f"n${o.idx}%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      o.landedMs = System.currentTimeMillis()
    }
    val expected = objs.filterNot(_.decoy).toSeq
    def waitCommitted(want: Seq[Obj], timeoutS: Double): Map[Int, Long] = {
      val end = System.nanoTime() + (timeoutS * 1e9).toLong
      var seen = commits(dirs)
      while (!want.forall(o => seen.contains(o.idx)) && System.nanoTime() < end && query.isActive) {
        Thread.sleep(20) // polls the warehouse; commit times come from the markers' mtimes
        seen = commits(dirs)
      }
      seen
    }

    def phase(p: String) = objs.filter(_.phase == p).toSeq
    phase("lead").foreach(land)
    waitCommitted(phase("lead"), 60)
    val steady = phase("steady").sortBy(_.dueS)
    val startMs = System.currentTimeMillis() + 200
    for (o <- steady) {
      val due = startMs + (o.dueS * 1000).toLong
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      land(o)
    }
    waitCommitted(expected.filter(_.phase != "burst"), 60)
    val burst = phase("burst")
    val burstMs = System.currentTimeMillis()
    burst.foreach(land)
    val seen = waitCommitted(expected, 90)
    val gcS = Main.gcSeconds() - gc0
    val stealS = Main.stealSeconds() - steal0
    query.exception.foreach(e => res.failures += s"stream failed: ${e.getMessage}")
    query.stop()

    // ---- check: every accepted object exactly once, no decoy ----
    res.attempted = objs.size
    val got = scala.util.Try(spark.read.option("recursiveFileLookup", "true").parquet(dirs.warehouse.toString)
      .groupBy("_source_object")
      .agg(count(lit(1)), sum(col("l_orderkey") * 8 + col("l_linenumber")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
      .recover { case e: Exception => res.failures += s"warehouse unreadable: $e"; Map.empty[String, (Long, Long)] }
      .get
    for (o <- objs) (o.decoy, got.get(o.name)) match {
      case (true, Some(_)) => res.failures += s"decoy ${o.name} reached the warehouse"
      case (true, None) =>
      case (false, None) => res.failures += s"${o.name} missing from the warehouse"
      case (false, Some((n, sum))) if n != o.rows || sum != o.checksum =>
        res.failures += s"${o.name}: $n rows, key checksum $sum; expected ${o.rows}, ${o.checksum}"
      case _ =>
    }
    for (name <- got.keySet -- objs.map(_.name))
      res.failures += s"unknown object $name in the warehouse"
    Main.stop(spark) // drains the listener bus before the trace is read

    // ---- metrics ----
    def commitS(o: Obj) = seen.get(o.idx).map(_ / 1e6)
    val steadyLat = steady.flatMap(o => commitS(o).map(_ - (startMs / 1e3 + o.dueS)))
    val burstEnd = burst.filterNot(_.decoy).flatMap(commitS)
    if (steadyLat.isEmpty || burstEnd.isEmpty) {
      res.failures += "no object was committed"
      return
    }
    val drainS = burstEnd.max - burstMs / 1e3
    val p50 = Stats.median(steadyLat.toSeq)
    val p90 = Stats.quantile(steadyLat.toSeq, 0.9)
    val lastDue = startMs / 1e3 + steady.map(_.dueS).max
    val lagEnd = steady.flatMap(commitS).max - lastDue
    val setupS = buildS + warmS
    res.metrics ++= Seq("setup_s" -> setupS, "pass_s" -> drainS, "latency_p50_s" -> p50,
      "latency_p90_s" -> p90, "latency_geomean_s" -> Stats.geomean(steadyLat.toSeq))
    res.report ++= Seq(
      "setup_s" -> (setupS, "s"),
      "ingest_p50_s" -> (p50, "s"),
      "ingest_p90_s" -> (p90, "s"),
      "ingest_p95_s" -> (Stats.quantile(steadyLat.toSeq, 0.95), "s"),
      "ingest_samples" -> (steadyLat.size.toDouble, "count"),
      "ingest_lag_end_s" -> (lagEnd, "s"),
      "ingest_drain_objects_per_s" -> (burstEnd.size / drainS, "1/s"),
      "burst_drain_s" -> (drainS, "s"),
      "failed_ratio" -> (res.failures.size.toDouble / res.attempted, "ratio"))
    val late = steady.map(o => o.landedMs / 1e3 - (startMs / 1e3 + o.dueS))
    res.diag ++= Seq("offered_rate_per_s" -> rate, "steady_objects" -> nSteady.toDouble,
      "burst_objects" -> nBurst.toDouble, "session_build_s" -> buildS, "warm_pass_s" -> warmS,
      "generator_late_p99_s" -> Stats.quantile(late, 0.99), "cpu_steal_s" -> stealS)
    // one line per object, for a reader who wants the latency behind a percentile
    Files.writeString(Paths.get(work, "objects.tsv"),
      ("idx\tname\trows\tbytes\tphase\tlanded_s\tcommitted_s\n" +: objs.map { o =>
        Seq(o.idx, o.name, o.rows, o.bytes, o.phase,
          (o.landedMs - startMs) / 1e3, commitS(o).map(_ - startMs / 1e3).getOrElse(Double.NaN)).mkString("\t")
      }).mkString("\n") + "\n")

    trace.foreach { tr =>
      val objects = expected.size.toDouble
      val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      val runId = query.runId.toString
      // the batch's own execution wraps `foreachBatch`; the work inside
      // it runs as nested executions
      val streamSqls = tr.sqls.values.filter(q => q.group == runId && q.nested).toSeq
      val streamJobs = tr.jobs.values.filter(_.group == runId).toSeq
      val fed = progress.batches.filter(_.numInputRows > 0).toSeq
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val windows = fed.map { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli
        (s, s + (dur(p, "triggerExecution") * 1e3).toLong, p)
      }
      layer("streaming.batches") = fed.size
      for ((s, e, p) <- windows) {
        layer("streaming.latest_offset_s") += dur(p, "latestOffset")
        layer("streaming.query_planning_s") += dur(p, "queryPlanning")
        layer("streaming.add_batch_s") += dur(p, "addBatch")
        layer("streaming.commit_s") += dur(p, "walCommit") + dur(p, "commitOffsets")
        layer("streaming.objects_per_batch") += p.numInputRows
        val inside = streamSqls.filter(q => q.start >= s && q.end >= 0 && q.end <= e).map(q => (q.start, q.end))
        layer("xlsx.driver_parse_s") += math.max(0.0, dur(p, "addBatch") - Stats.unionLength(inside) / 1e3)
      }
      for (k <- Seq("streaming.latest_offset_s", "streaming.query_planning_s",
        "streaming.add_batch_s", "streaming.commit_s", "streaming.objects_per_batch"))
        layer(k) = layer(k) / math.max(1, fed.size)
      layer("xlsx.driver_parse_s") = layer("xlsx.driver_parse_s") / objects
      val waits = steady.flatMap { o =>
        commitS(o).flatMap(c => windows.find { case (s, e, _) => s / 1e3 <= c && c <= e / 1e3 + 0.05 }
          .map { case (s, _, _) => math.max(0.0, s / 1e3 - o.landedMs / 1e3) })
      }
      layer("streaming.queue_wait_s") = if (waits.isEmpty) 0.0 else waits.sum / waits.size
      val writeIds = tr.sqls.collect { case (id, q) if q.group == runId && q.isWrite => id }.toSet
      val writeJobs = streamJobs.filter(j => writeIds(j.sqlId))
      layer("sink.write_s") = streamSqls.filter(_.isWrite).map(q => (q.end - q.start) / 1e3).sum / objects
      layer("sink.task_run_s") = writeJobs.flatMap(j => tr.tasksByJob.get(j.id)).map(_.runMs / 1e3).sum / objects
      layer("sink.bytes_per_byte_in") =
        writeJobs.flatMap(j => tr.tasksByJob.get(j.id)).map(_.written).sum.toDouble / expected.map(_.bytes).sum
      for (id <- tr.sqls.keys if tr.sqls(id).group == runId; p <- tr.plans.get(id)) {
        layer("plans.analyze_s") += p.analyzeNs / 1e9 / objects
        layer("plans.optimize_s") += p.optimizeNs / 1e9 / objects
        layer("plans.physical_s") += p.physicalNs / 1e9 / objects
        layer("codegen.ops") += p.ops
        layer("codegen.covered") += p.codegenOps
      }
      layer("plans.codegen_coverage") =
        if (layer("codegen.ops") > 0) layer("codegen.covered") / layer("codegen.ops") else 0.0
      Seq("codegen.ops", "codegen.covered").foreach(layer.remove)
      val tasks = streamJobs.flatMap(j => tr.tasksByJob.get(j.id))
      layer("exec.s") = Stats.unionLength(streamSqls.filter(_.end >= 0).map(q => (q.start, q.end))) / 1e3 / objects
      layer("exec.jobs") = streamJobs.size / objects
      layer("exec.stages") = tr.stagesByGroup(runId) / objects
      layer("exec.tasks") = tasks.map(_.n).sum / objects
      layer("exec.task_run_s") = tasks.map(_.runMs / 1e3).sum / objects
      layer("exec.task_cpu_s") = tasks.map(_.cpuNs / 1e9).sum / objects
      layer("exec.shuffle_read_bytes") = tasks.map(_.shuffleRead).sum / objects
      layer("exec.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum / objects
      layer("exec.spill_bytes") = tasks.map(_.spill).sum / objects
      val spanMs = windows.map(_._2).maxOption.getOrElse(startMs) - startMs
      layer("exec.core_busy_ratio") = tasks.map(_.runMs).sum.toDouble / (spanMs.max(1L) * conf.int("cores"))
      layer("exec.driver_gap_s") = math.max(0.0, spanMs -
        Stats.unionLength(streamJobs.filter(_.end >= 0).map(j => (j.start, j.end)))) / 1e3 / objects
      layer("jvm.gc_s") = gcS / objects
      layer("gen.late_p99_s") = Stats.quantile(late, 0.99)
      layer("traced.pass_s") = drainS
      layer("traced.latency_p50_s") = p50
      Layers.emit(res, layer)
    }
  }
}
