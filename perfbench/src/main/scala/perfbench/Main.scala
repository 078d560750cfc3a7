package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Harness entry point. `run.py` builds this JVM's class path, generates
  * the inputs and writes a `key=value` config file, whose path is the
  * only argument. The harness writes its result as JSON to the config's
  * `out` path. */
object Main {

  final class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing config key $k"))
    def get(k: String): Option[String] = kv.get(k)
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def list(k: String): Seq[String] = apply(k).split(',').toSeq.filter(_.nonEmpty)
    def withPrefix(p: String): Map[String, String] =
      kv.collect { case (k, v) if k.startsWith(p) => k.stripPrefix(p) -> v }
  }

  /** What a workload hands back: end-to-end metrics, per-layer metrics,
    * the failure count, and lines a reader uses to judge the host. */
  final class Result {
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val diag = mutable.LinkedHashMap.empty[String, Double]
  }

  def main(args: Array[String]): Unit = {
    val kv = scala.io.Source.fromFile(args(0), "UTF-8").getLines()
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val conf = new Conf(kv)
    val res = new Result
    conf("workload") match {
      case "xlsx_arrival" => Arrival.run(conf, res)
      case "record" => QueryLoop.record(conf)
      case _ => QueryLoop.run(conf, res)
    }
    res.metrics("rss_peak_mb") = rssPeakMb()
    res.report("rss_peak_mb") = (res.metrics("rss_peak_mb"), "MB")
    Files.writeString(Paths.get(conf("out")), toJson(res))
  }

  def session(conf: Conf): SparkSession = {
    val cores = conf.int("cores")
    val work = conf("work")
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up cost of a session: the median of `n` fresh builds, each
    * ending with a first tiny job. The last session stays open. */
  def buildSessions(conf: Conf, n: Int): (SparkSession, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to n) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(conf)
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(1).count()
      times += (System.nanoTime() - t0) / 1e9
    }
    (spark, Stats.median(times.toSeq))
  }

  /** Host-noise canary: a fixed scan-and-aggregate over lineitem, the
    * median of three timings. Its drift across a run flags a stalling
    * host; it is reported beside the metrics, never as one. */
  def canary(spark: SparkSession, data: String): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(s"$data/lineitem.parquet")
        .agg(sum("l_extendedprice"), max("l_shipdate"), count(lit(1))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(ts)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** CPU time the hypervisor gave to other guests (the `steal` column of
    * `/proc/stat`), in seconds; its growth over a run flags a contended
    * host. */
  def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    finally src.close()
  }

  /** Peak resident set of this JVM (`VmHWM`). */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def toJson(r: Result): String = {
    def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failures.size.toString,
      "failures" -> r.failures.map(str).mkString("[", ",", "]"),
      "metrics" -> obj(r.metrics.map { case (k, v) => k -> num(v) }),
      "report" -> obj(r.report.map { case (k, (v, u)) => k -> s"[${num(v)},${str(u)}]" }),
      "diag" -> obj(r.diag.map { case (k, v) => k -> num(v) })))
  }
}
