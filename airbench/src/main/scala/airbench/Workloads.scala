package airbench

import graft.Queries
import graft.pipeline.{Eda, ParquetSource, Pipeline, Sinks, Transforms}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One named result of an op, collected inside the op's timed region. */
final case class Output(name: String, schema: StructType, rows: Array[Row])

object Output {
  def of(name: String, df: DataFrame): Output = Output(name, df.schema, df.collect())
}

/** A timed operation: one call into the engine's public entry points. */
final case class Op(id: String, run: SparkSession => Seq[Output])

trait Workload {
  def name: String
  /** The directory under `work` that holds the workload's input tables. */
  def inputDir: String
  /** The op list of pass `pass` (0 is the cold pass). */
  def ops(work: String, seed: Long, pass: Int): Seq[Op]
  /** Untimed clean-up after each pass. */
  def endPass(): Unit = ()
  /** DuckDB SQL per output name, over the tables under `work/tables`. */
  def oracles: Map[String, String] = Map.empty
  /** Warm passes a run makes at least: the first warm pass still runs
    * JIT compilation and reads up to 40 % slower than the later ones. */
  def minWarm: Int = 3
}

/** A list of registry queries over the synthesized testdata tables; the
  * seed fixes the op order of each pass. */
final class QueryWorkload(val name: String, queries: Seq[String]) extends Workload {
  val inputDir = "tables"

  def ops(work: String, seed: Long, pass: Int): Seq[Op] = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
    order.map { q =>
      val query = Queries.byName(q)
      Op(s"op.$q", spark => Seq(Output.of(q, query.run(spark, s"$work/tables"))))
    }
  }

  override def oracles: Map[String, String] =
    queries.flatMap(q => Queries.byName(q).oracle.map(q -> _)).toMap
}

/** The reference user's job: the ETL lifecycle, the Excel sink of both
  * transformed tables, then the notebook's EDA pass over the cached
  * transformed tables (the input `Eda` documents). The same EDA over the
  * sink read-back is an untimed check, see [[checks]]. */
final class EtlWorkload extends Workload {
  val name = "etl_notebook"
  val inputDir = "in"
  private val tables = Seq("listings", "reviews")
  private var cached: Map[String, DataFrame] = Map.empty
  /** RDD ids of the EDA caches, which are meant to live across ops. */
  @volatile var cacheRdds: Set[Int] = Set.empty

  private def transformed(spark: SparkSession, work: String): Map[String, DataFrame] =
    Transforms.all(new ParquetSource(s"$work/in").loadAll(spark, tables).filter(_._2.columns.nonEmpty))

  private def sections(prefix: String, m: Map[String, DataFrame]): Seq[Output] =
    m.toSeq.sortBy(_._1).map { case (k, df) => Output.of(s"$prefix.$k", df) }

  private def xlsx(work: String, t: String): Op = Op(s"pipeline.xlsx_$t", spark => {
    val path = Sinks.xlsx(transformed(spark, work)(t), s"$work/out", t, fileStamp = () => "bench")
    Seq(Output(s"xlsx.$t", StructType.fromDDL("path STRING"), Array(Row(path.orNull))))
  })

  def ops(work: String, seed: Long, pass: Int): Seq[Op] = Seq(
    Op("pipeline.run", spark => {
      val r = Pipeline.run(spark, new ParquetSource(s"$work/in"), s"$work/out", tables)
      val rows = r.counts.toSeq.sortBy(_._1).map { case (t, (e, l)) =>
        Row(t, e, l, r.verified.getOrElse(t, -1L))
      }
      Seq(Output("pipeline.report",
        StructType.fromDDL("table STRING, extracted BIGINT, loaded BIGINT, verified BIGINT"),
        rows.toArray))
    }),
    xlsx(work, "listings"),
    xlsx(work, "reviews"),
    Op("eda.cache", spark => {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      cached = transformed(spark, work).map { case (t, df) => t -> df.cache() }
      val counts = tables.map(t => Row(t, cached(t).count()))
      cacheRdds = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
      Seq(Output("eda.cache", StructType.fromDDL("table STRING, n BIGINT"), counts.toArray))
    }),
    Op("eda.quality", _ => tables.flatMap(t =>
      sections(s"eda.quality.$t", Eda.quality(cached(t), cached(t).columns.toSeq)))),
    Op("eda.listings", _ => sections("eda.listings", Eda.listings(cached("listings")))),
    Op("eda.reviews", _ => sections("eda.reviews", Eda.reviews(cached("reviews")))),
    Op("eda.corr", _ => Seq(Output.of("eda.corr", Eda.correlations(cached("listings"),
      "price_clean", Seq("accommodates_clean", "bedrooms_clean", "beds_clean",
        "minimum_nights_clean", "availability_365_clean", "latitude", "longitude"))))))

  /** One warm pass: an ETL pass costs about three query-mix passes, almost
    * all of it fixed planning and job overhead. */
  override def minWarm: Int = 1

  override def endPass(): Unit = {
    cached.values.foreach(_.unpersist(blocking = true))
    cached = Map.empty
    cacheRdds = Set.empty
  }

  /** Untimed checks, once per run: (name, passed, detail).
    *  - `sink_jdbc.<t>`: round trip of the first `limit` rows of each
    *    transformed table through embedded Derby (the known failure is
    *    type-driven, so a prefix shows it);
    *  - `eda_readback.reviews`: the reviews EDA over the parquet sink read
    *    back, the notebook's own input. */
  def checks(spark: SparkSession, work: String, limit: Int): Seq[(String, Boolean, String)] = {
    def attempt(name: String)(body: => String): (String, Boolean, String) =
      try (name, true, body)
      catch {
        case e: Throwable =>
          (name, false, String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse(e.toString))
      }
    val url = "jdbc:derby:memory:airbench;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val tr = transformed(spark, work)
    val jdbc = tables.map(t => attempt(s"sink_jdbc.$t") {
      val table = s"raw_${t}_transformado"
      val df = tr(t).limit(limit)
      Sinks.jdbc(df, url, table, props)
      val (back, expect) = (spark.read.jdbc(url, table, props).count(), df.count())
      if (back != expect) throw new IllegalStateException(s"wrote $expect rows, read back $back")
      s"$back rows round-tripped"
    })
    val readback = attempt("eda_readback.reviews") {
      val sections = Eda.reviews(spark.read.parquet(s"$work/out/raw_reviews_transformado"))
      sections.values.foreach(_.collect())
      s"${sections.size} sections"
    }
    jdbc :+ readback
  }
}

object Workloads {
  /** One query per layer the ETL does not load: a graph fixpoint loop with
    * checkpoint generations (q227), capped MinHash LSH (q22), the native
    * text kernels (q169), and the relational operators AsOf (q70) and the
    * range-join rule (q80). */
  val QueryMix: Seq[String] = Seq("q227_temporal_reach", "q22_minhash_lsh", "q169_snippet",
    "q70_asof_join", "q80_range_join")

  def byName(name: String): Workload = name match {
    case "etl_notebook" => new EtlWorkload
    case "query_mix" => new QueryWorkload(name, QueryMix)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
