package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query workloads: one client in a closed loop over a fixed mix of
  * registered queries, each pass in a seeded order. The timed action is
  * the query's construction followed by a `noop` write, which forces
  * every output column the way a real sink would (a `count()` would let
  * Catalyst prune them). */
object QueryLoop {

  private final case class Sample(id: Int, name: String, startMs: Long, builtMs: Long, endMs: Long,
                                  constructS: Double, execS: Double, analysisNs: Long) {
    def wallS: Double = constructS + execS
  }

  private type Query = (SparkSession, String) => DataFrame

  private def lookup(names: Seq[String]): Seq[(String, Query)] = {
    val reg = graft.SparkEntry.queries
    names.map(n => n -> reg.getOrElse(n, sys.error(s"query $n is not registered in SparkEntry.queries")))
  }

  def run(conf: Main.Conf, res: Main.Result): Unit = {
    val data = conf("data")
    val traced = conf("trace") == "1"
    val queries = lookup(conf.list("queries"))
    val expected = mutable.Map(conf.withPrefix("fp.").toSeq: _*)
    if (conf.get("plant_fault").contains("1")) {
      // planted fault: one expected fingerprint is corrupted, so a
      // correct engine must be reported as wrong on that query
      val (n, fp) = expected.minBy(_._1)
      expected(n) = fp.reverse
    }

    val (spark, buildS) = Main.buildSessions(conf, 3)
    val sc = spark.sparkContext
    val trace = if (traced) { val t = new Trace; t.install(spark); Some(t) } else None

    // Untimed warm pass, in name order: runs the timed action once, so
    // JIT, whole-stage codegen and first-use costs land here, then checks
    // the query's result against its fingerprint.
    sc.setJobGroup("warm", "warm pass")
    val w0 = System.nanoTime()
    for ((name, fn) <- queries) {
      res.attempted += 1
      try {
        val df = fn(spark, data)
        df.write.format("noop").mode("overwrite").save()
        val got = Fingerprint.of(df)
        expected.get(name) match {
          case Some(want) if want == got =>
          case Some(want) => res.failures += s"$name: result fingerprint $got, expected $want"
          case None => res.failures += s"$name: no recorded fingerprint (got $got)"
        }
      } catch {
        case e: Exception => res.failures += s"$name: warm pass failed: $e"
      }
    }
    val warmS = (System.nanoTime() - w0) / 1e9

    sc.setJobGroup("canary", "canary")
    val canaryBefore = Main.canary(spark, data)
    val gc0 = Main.gcSeconds()
    val steal0 = Main.stealSeconds()

    // Closed loop over whole passes, every query once per pass. The pass
    // count follows from the measuring time and the workload's planned
    // pass time, never from a measured one, so every run of a workload
    // aggregates the same number of samples: the first measured pass is
    // still slower than later ones, and a count that varied with host
    // speed would mix the two.
    val rng = new scala.util.Random(conf("seed").toLong)
    val passes = math.max(1, (conf.double("seconds") / conf.double("planned_pass_s")).toInt)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    for (pass <- 0 until passes) {
      val p0 = System.nanoTime()
      for ((name, fn) <- rng.shuffle(queries)) {
        val id = samples.size
        res.attempted += 1
        try {
          sc.setJobGroup(s"s$id.c", name)
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val df = fn(spark, data)
          val t1 = System.nanoTime()
          val builtMs = System.currentTimeMillis()
          sc.setJobGroup(s"s$id.x", name)
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          val analysisNs = if (traced) df.queryExecution.tracker.phases.get("analysis")
            .map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).getOrElse(0L) else 0L
          samples += Sample(id, name, startMs, builtMs, System.currentTimeMillis(),
            (t1 - t0) / 1e9, (t2 - t1) / 1e9, analysisNs)
        } catch {
          case e: Exception => res.failures += s"$name: pass $pass failed: $e"
        }
      }
      passTimes += (System.nanoTime() - p0) / 1e9
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val gcS = Main.gcSeconds() - gc0
    val stealS = Main.stealSeconds() - steal0
    sc.setJobGroup("canary", "canary")
    val canaryAfter = Main.canary(spark, data)
    Main.stop(spark) // drains the listener bus before the trace is read

    val walls = samples.map(_.wallS).toSeq
    val perQuery = samples.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.wallS).toSeq }
    val setupS = buildS + warmS
    val passS = Stats.median(passTimes.toSeq)
    val p50 = Stats.quantile(walls, 0.5)
    val p90 = Stats.quantile(walls, 0.9)
    val geo = Stats.geomean(perQuery.values.map(Stats.median).toSeq)
    res.metrics ++= Seq("setup_s" -> setupS, "pass_s" -> passS, "latency_p50_s" -> p50,
      "latency_p90_s" -> p90, "latency_geomean_s" -> geo)
    res.report ++= Seq(
      "setup_s" -> (setupS, "s"), "pass_s" -> (passS, "s"), "query_geomean_s" -> (geo, "s"),
      "query_p50_s" -> (p50, "s"), "query_p90_s" -> (p90, "s"),
      "query_samples" -> (walls.size.toDouble, "count"),
      "failed_ratio" -> (res.failures.size.toDouble / res.attempted, "ratio"))
    val spreads = perQuery.values.filter(_.size >= 2).map(s => s.max / s.min).toSeq
    for ((n, ss) <- perQuery.toSeq.sortBy(_._1)) {
      res.diag(s"$n.median_s") = Stats.median(ss)
      res.diag(s"$n.max_over_min") = ss.max / ss.min
    }
    res.diag ++= Seq("passes" -> passTimes.size.toDouble, "measured_s" -> measuredS,
      "session_build_s" -> buildS, "warm_pass_s" -> warmS,
      "canary_before_s" -> canaryBefore, "canary_after_s" -> canaryAfter,
      "canary_drift" -> canaryAfter / canaryBefore, "cpu_steal_s" -> stealS,
      "stall_ratio_p90" -> (if (spreads.isEmpty) 1.0 else Stats.quantile(spreads, 0.9)))

    trace.foreach { t =>
      val cores = conf.int("cores")
      val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      val sqlByGroup = t.sqls.toSeq.groupBy(_._2.group)
      val jobsByGroup = t.jobs.values.toSeq.groupBy(_.group)
      for (s <- samples) {
        val cJobs = jobsByGroup.getOrElse(s"s${s.id}.c", Nil)
        val xJobs = jobsByGroup.getOrElse(s"s${s.id}.x", Nil)
        val all = cJobs ++ xJobs
        def clip(js: Seq[t.Job], lo: Long, hi: Long) =
          js.map(j => (math.max(j.start, lo), math.min(if (j.end < 0) hi else j.end, hi))).filter(i => i._2 > i._1)
        layer("operators.construct_s") += s.constructS
        layer("operators.construct_jobs") += cJobs.size
        layer("operators.construct_self_s") +=
          math.max(0.0, s.constructS - Stats.unionLength(clip(cJobs, s.startMs, s.builtMs)) / 1e3)
        layer("plans.analyze_s") += s.analysisNs / 1e9
        for (g <- Seq(s"s${s.id}.c", s"s${s.id}.x"); (id, _) <- sqlByGroup.getOrElse(g, Nil);
             p <- t.plans.get(id)) {
          layer("plans.analyze_s") += p.analyzeNs / 1e9
          layer("plans.optimize_s") += p.optimizeNs / 1e9
          layer("plans.physical_s") += p.physicalNs / 1e9
          layer("codegen.ops") += p.ops
          layer("codegen.covered") += p.codegenOps
        }
        layer("exec.s") += s.execS
        layer("exec.jobs") += all.size
        layer("exec.stages") += t.stagesByGroup(s"s${s.id}.c") + t.stagesByGroup(s"s${s.id}.x")
        for (tk <- all.flatMap(j => t.tasksByJob.get(j.id))) {
          layer("exec.tasks") += tk.n
          layer("exec.task_run_s") += tk.runMs / 1e3
          layer("exec.task_cpu_s") += tk.cpuNs / 1e9
          layer("exec.shuffle_read_bytes") += tk.shuffleRead
          layer("exec.shuffle_write_bytes") += tk.shuffleWrite
          layer("exec.spill_bytes") += tk.spill
        }
        layer("exec.driver_gap_s") +=
          math.max(0.0, s.wallS - Stats.unionLength(clip(all, s.startMs, s.endMs)) / 1e3)
        layer("wall") += s.wallS
      }
      val coverage = if (layer("codegen.ops") > 0) layer("codegen.covered") / layer("codegen.ops") else 0.0
      val busy = layer("exec.task_run_s") / (layer("wall") * cores)
      Seq("codegen.ops", "codegen.covered", "wall").foreach(layer.remove)
      layer.keys.toSeq.foreach(k => layer(k) = layer(k) / passes)
      layer("plans.codegen_coverage") = coverage
      layer("exec.core_busy_ratio") = busy
      layer("jvm.gc_s") = gcS / passes
      layer("traced.pass_s") = passS
      layer("traced.latency_p50_s") = p50
      Layers.emit(res, layer)
    }
  }

  /** Writes each query's result and its oracle SQL where
    * `tools/oracle_check.py` reads them, and every fingerprint to
    * `fingerprints.txt`, so fingerprints are only frozen after the
    * DuckDB oracle agrees with the results. */
  def record(conf: Main.Conf): Unit = {
    val data = conf("data")
    val outDir = conf("record_dir")
    val (spark, _) = Main.buildSessions(conf, 1)
    val oracle = graft.SparkEntry.oracleSql
    val lines = mutable.ArrayBuffer.empty[String]
    val sql = mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- lookup(conf.list("queries"))) {
      fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      lines += s"$name ${Fingerprint.of(fn(spark, data))}"
      oracle.get(name).foreach { q =>
        sql += "\"" + name + "\": \"" + q.replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t") + "\""
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql.mkString("{\n", ",\n", "\n}\n"))
    Files.writeString(Paths.get(s"$outDir/fingerprints.txt"), lines.mkString("", "\n", "\n"))
    Main.stop(spark)
  }
}
