package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{lit, to_date}

import graft.{SparkEntry, Tables}
import graft.arxiv.{Analytics, ArxivStore, Citations, Clean, Enrich, Ingest,
  MockScholarClient, Pipeline, PipelineConfig, ScholarClient, Validate}

/** One timed unit of work. `run` is the timed region; it returns a check
  * that the caller runs afterwards, outside the timed region. The check
  * returns an error message, or None when the output is correct.
  */
trait Op {
  def name: String
  def run(spark: SparkSession): () => Option[String]
}

/** Counts and times every Scholar lookup the pipeline makes. Tasks run in
  * the driver JVM under `local[N]`, so process-wide counters see them all.
  */
final class CountingScholar(inner: ScholarClient) extends ScholarClient {
  override def search(query: String): Option[String] = {
    val t0 = System.nanoTime()
    try inner.search(query)
    finally {
      CountingScholar.calls.incrementAndGet()
      CountingScholar.nanos.addAndGet(System.nanoTime() - t0)
    }
  }
}

object CountingScholar {
  val calls = new AtomicLong
  val nanos = new AtomicLong
}

object Fingerprint {
  /** Row-order-insensitive digest of a result. */
  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** A catalog row: the result is collected inside the timed region. The
  * first result is written to `outDir/<name>` for the DuckDB oracle; every
  * later result must reproduce the first one's digest.
  */
final class CatalogOp(val name: String, tablesDir: String, outDir: String) extends Op {
  private var firstDigest: Option[String] = None

  def run(spark: SparkSession): () => Option[String] = {
    val df = SparkEntry.queries(name)(spark, tablesDir)
    val rows = df.collect()
    () => {
      val digest = Fingerprint.of(rows)
      firstDigest match {
        case None =>
          firstDigest = Some(digest)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        case Some(d) if d == digest => None
        case Some(_) => Some(s"$name: result differs from its first execution")
      }
    }
  }
}

/** One `Pipeline.run` over the generated snapshot, then its validation
  * report and the paper's three analytical SQL queries (`Analytics.*Sql`
  * over the views the pipeline registers), each collected. Checked against
  * the generator's ground truth (`truth.json`), which also fixes the
  * pipeline's enrichment cycles.
  */
final class ArxivOp(inputPath: String, truth: Map[String, Long]) extends Op {
  val name = "arxiv_pipeline"
  /** Wall of the `Pipeline.run` call alone, for the traced split. */
  var lastPipelineMs = 0.0
  val clock = to_date(lit("2024-01-01"))

  def config: PipelineConfig =
    PipelineConfig(inputPath, client = new CountingScholar(new MockScholarClient()),
      enrichCycles = truth("pipeline.enrich_cycles").toInt)

  def run(spark: SparkSession): () => Option[String] = {
    val t0 = System.nanoTime()
    val result = Pipeline.run(spark, config, clock)
    lastPipelineMs = (System.nanoTime() - t0) / 1e6
    val store = result.store
    val validation = result.validation.collect()
    val analytics = Seq(
      "author_publication_counts" -> Analytics.authorPublicationCountsSql(spark),
      "citation_counts" -> Analytics.citationCountsSql(spark),
      "category_publication_counts" -> Analytics.categoryPublicationCountsSql(spark))
      .map { case (k, df) => k -> df.collect() }
    () => {
      val got = ArxivOp.observed(store, validation, analytics)
      store.unpersist()
      spark.catalog.clearCache()
      ArxivOp.compare(got, truth)
    }
  }
}

object ArxivOp {
  /** Tables counted directly. The analytics totals already give the row
    * counts of publications, citations, authorship and
    * publication_category, so counting those again would only add planning
    * time to every run.
    */
  val tables: Seq[(String, ArxivStore => DataFrame)] = Seq(
    "authors" -> (_.authors), "categories" -> (_.categories),
    "log_table" -> (_.logTable))

  def observed(store: ArxivStore, validation: Array[Row],
      analytics: Seq[(String, Array[Row])]): Map[String, Long] = {
    val counts = tables.map { case (t, f) => s"rows.$t" -> f(store).count() }
    val checks = validation.map(r => s"validate.${r.getString(0)}" -> r.getLong(1))
    val reports = analytics.flatMap { case (k, rows) =>
      val countCol = rows.headOption.map(_.schema.fieldNames.indexWhere(_.endsWith("_count")))
      Seq(s"analytics.$k.rows" -> rows.length.toLong,
        s"analytics.$k.sum" -> countCol.fold(0L)(i => rows.map(_.getLong(i)).sum))
    }
    (counts ++ checks ++ reports).toMap
  }

  /** Every key of the truth must match; validation checks absent from the
    * truth must report 0 violations.
    */
  def compare(got: Map[String, Long], truth: Map[String, Long]): Option[String] = {
    val unlisted = got.keys.filter(k => k.startsWith("validate.") && !truth.contains(k))
    val expected = truth.filter { case (k, _) => !k.startsWith("pipeline.") } ++
      unlisted.map(_ -> 0L)
    val bad = expected.toSeq.sortBy(_._1).collect {
      case (k, v) if !got.get(k).contains(v) => s"$k=${got.getOrElse(k, "missing")} (want $v)"
    }
    if (bad.isEmpty) None else Some("arxiv_pipeline: " + bad.mkString(", "))
  }

  /** The pipeline's public stages called one by one, each materialized,
    * in `Pipeline.run`'s order. Returns milliseconds per stage.
    */
  def stageTimes(spark: SparkSession, op: ArxivOp): Seq[(String, Double)] = {
    val cfg = op.config
    var store = ArxivStore.empty(spark)
    def timed(name: String)(f: ArxivStore => ArxivStore): (String, Double) = {
      val t0 = System.nanoTime()
      val next = f(store).cached().materialize()
      val ms = (System.nanoTime() - t0) / 1e6
      store = next
      name -> ms
    }
    val stages = Seq(
      timed("ingest")(s => Ingest.run(spark, s, cfg.inputPath, op.clock)),
      timed("clean")(Clean.run),
      timed("enrich")(s => Enrich.run(spark, s, cfg.client, cfg.enrichCycles,
        cfg.limitPerCategory, op.clock, cfg.enrichExactCategoryMatch)),
      timed("citations")(s => Citations.run(spark, s, cfg.client)))
    val t0 = System.nanoTime()
    Validate.run(store).collect()
    val validate = "validate" -> (System.nanoTime() - t0) / 1e6
    store.unpersist()
    spark.catalog.clearCache()
    stages :+ validate
  }
}

/** The benchmark's workloads. `catalog_mix` runs catalog rows: seven
  * sub-second relational and window rows, bound by planning and job launch,
  * and one committed-store row that streams documents into a committed
  * store under a compaction policy and reads them back. The rows are a
  * subset of their families, sized so a run fits the benchmark's time
  * budget on a 4-core host (see METRICS.md). `arxiv_etl` runs the pipeline.
  */
object Workloads {
  val catalogRows: Seq[String] = Seq(
    "q01_pricing_summary", "q03_sql_pricing", "q14_sql_join_agg",
    "q20_topk_per_group", "q38_window_analytics", "q42_pivot",
    "q62_sessionize", "q258_committed_doc_ingest")

  def ops(workload: String, inputDir: String, outDir: String): Seq[Op] = workload match {
    case "arxiv_etl" =>
      val truthJson = new String(Files.readAllBytes(Paths.get(inputDir, "truth.json")), "UTF-8")
      Seq(new ArxivOp(s"$inputDir/arxiv.json", Json.flatLongs(truthJson)))
    case "catalog_mix" => catalogRows.map(n => new CatalogOp(n, inputDir, outDir))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Makes the inputs visible to the fresh session: the JSON snapshot read
    * once, or the tables' parquet footers read and their views registered.
    */
  def setUp(spark: SparkSession, workload: String, inputDir: String): Unit =
    if (workload == "arxiv_etl") Ingest.readArxivJson(spark, s"$inputDir/arxiv.json").count()
    else Tables.registerAll(spark, inputDir)
}

/** The few JSON shapes the harness reads and writes. */
object Json {
  /** Parses a flat JSON object of integer values. */
  def flatLongs(s: String): Map[String, Long] =
    "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
