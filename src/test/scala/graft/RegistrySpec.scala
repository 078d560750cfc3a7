package graft

import graft.operators._
import graft.sources.Sources
import graft.streaming.Streams

/** Driver-contract consistency: the queries/oracle registries must be
  * collision-free (a duplicate key would silently shadow an operator
  * in the Map concatenation) and mutually consistent. */
class RegistrySpec extends SparkSpec {

  private val modules: Seq[(String, Map[String, _], Map[String, String])] = Seq(
    ("RefPipeline", RefPipeline.queries, RefPipeline.oracle),
    ("Analytics", Analytics.queries, Analytics.oracle),
    ("Joins", Joins.queries, Joins.oracle),
    ("Aggregations", Aggregations.queries, Aggregations.oracle),
    ("Windows", Windows.queries, Windows.oracle),
    ("SortsAndSets", SortsAndSets.queries, SortsAndSets.oracle),
    ("Scalars", Scalars.queries, Scalars.oracle),
    ("CustomAggs", CustomAggs.queries, CustomAggs.oracle),
    ("Extras", Extras.queries, Extras.oracle),
    ("Dedup", Dedup.queries, Dedup.oracle),
    ("CorpusOps", CorpusOps.queries, CorpusOps.oracle),
    ("Similarity", Similarity.queries, Similarity.oracle),
    ("StatsOps", StatsOps.queries, StatsOps.oracle),
    ("MlEval", MlEval.queries, MlEval.oracle),
    ("TextAnalysis", TextAnalysis.queries, TextAnalysis.oracle),
    ("Multimodal", Multimodal.queries, Multimodal.oracle),
    ("TimeSeries", TimeSeries.queries, TimeSeries.oracle),
    ("WarehouseEtl", WarehouseEtl.queries, WarehouseEtl.oracle),
    ("Layout", Layout.queries, Layout.oracle),
    ("GraphOps", GraphOps.queries, GraphOps.oracle),
    ("GeoOps", GeoOps.queries, GeoOps.oracle),
    ("Sources", Sources.queries, Sources.oracle),
    ("SqlSurface", SqlSurface.queries, SqlSurface.oracle),
    ("Streams", Streams.queries, Streams.oracle))

  test("no query key collides across modules") {
    val all = modules.flatMap { case (m, qs, _) => qs.keys.map(_ -> m) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicate keys: $dups")
    assert(SparkEntry.queries.size === all.size)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("EVERY registered query has a DuckDB oracle (sketch ops via error-bound verdicts)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"oracle-less queries: $noOracle")
  }

  test("bench exclusions name real queries (a rename can't silently un-exclude)") {
    assert(Bench.benchExclude.subsetOf(SparkEntry.queries.keySet), Bench.benchExclude.toString)
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("HARNESS CONTRACT: no registered query emits a top-level array/map/decimal column") {
    // The driver's oracle harness sorts and hashes result columns with
    // pandas; a top-level ArrayType/MapType is unhashable there and
    // turns the row `err` (round-7 lesson: sim_embed_{standardize,
    // quantize}). DecimalType is equally unhashable, by a subtler
    // mechanism (round-8 lesson: fn_decimal): DuckDB DECIMALs reach
    // pandas as float64 while Spark parquet decimals reach it as
    // Python Decimal objects, so the value hash can never match.
    // Vector-valued ops must leave the engine in long form (id, pos,
    // value) or as a delimited string; money-typed ops must keep
    // DECIMAL arithmetic internal and cast the final projection to
    // DOUBLE (exact when quanta < 2^53) or VARCHAR. Analysis only — no
    // query is executed, but eager model-training stages (bounded
    // artifacts) do run at sf0.001. Those stages may override session
    // conf only inside a scope: the conf after construction must equal
    // the conf before, except Tables.events' session-lifetime
    // nanosAsLong (the parquet scan reads it at execution time).
    import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType}
    val sessionLifetime = "spark.sql.legacy.parquet.nanosAsLong"
    def conf = spark.conf.getAll - sessionLifetime
    val (offenders, leaks) = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val before = conf
        val bad = fn(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[DecimalType] => f.name
        }
        val after = conf
        (if (bad.isEmpty) None else Some(s"$name(${bad.mkString(",")})"),
          if (after == before) None
          else Some(s"$name(now ${after.toSet diff before.toSet}, was ${before.toSet diff after.toSet})"))
    }.unzip
    assert(offenders.flatten.isEmpty, s"array/map/decimal-valued outputs: ${offenders.flatten}")
    assert(leaks.flatten.isEmpty, s"session conf changed by construction: ${leaks.flatten}")
  }
}
