package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{RunReport, WeatherEtl}
import graft.sources.SnapshotStore
import graft.streaming.StreamOps

/** The daily batch lifecycle over the engine's public functions: staged
  * batch → `WeatherEtl.runBatch` → dimension and fact snapshot commits →
  * CDC feed over the fact → CDC apply onto a replica → retention. Staged
  * batches are generated by `run.py` from the seed; the JVM only runs them.
  */
object Lifecycle {
  /** Versions kept per snapshot root; older ones are expired each batch. */
  val KeepVersions = 2

  private val factSchema = StructType(Seq(
    StructField("city_id", IntegerType), StructField("date", DateType),
    StructField("temp_max", DecimalType(5, 2)), StructField("temp_min", DecimalType(5, 2)),
    StructField("precipitation", DecimalType(5, 2)),
    StructField("load_timestamp", TimestampType)))
  private val dimSchema = StructType(Seq(
    StructField("city_id", IntegerType), StructField("city_name", StringType)))
  private val changeSchema = StructType(Seq(
    StructField("lsn", LongType), StructField("fkey", LongType),
    StructField("op", LongType), StructField("img", StringType)))
  private val replicaSchema = StructType(Seq(
    StructField("fkey", LongType), StructField("p", StringType)))

  final case class Roots(work: String) {
    val root = s"$work/warehouse"
    val dim = s"$root/dim_city"
    val fact = s"$root/fact_weather"
    val feed = s"$root/cdc_feed"
    val consumer = s"$root/replica_consumer"
    def replica = s"$consumer/replica"
    def bookmark = s"$consumer/bookmark"
    def snapshotRoots: Seq[String] = Seq(dim, fact, replica, bookmark)
    def changes(id: Long) = f"$feed/changes/v$id%05d"
    def state(id: Long) = f"$feed/state/v$id%05d"
  }

  /** The fact as the CDC feed sees it: one long key per (city, date) and
    * one string image of the measures, so an update is a changed image.
    */
  def cdcView(fact: DataFrame): DataFrame = {
    def img(c: String) = coalesce(col(c).cast("string"), lit("N"))
    fact.select(
      (col("city_id").cast("long") * 100000L +
        datediff(col("date"), lit("1970-01-01").cast("date"))).as("fkey"),
      concat_ws("|", img("temp_max"), img("temp_min"), img("precipitation")).as("fval"))
  }

  /** Untimed per-batch check of the committed fact: row count and four
    * integer moment sums that `run.py` recomputes from its model.
    */
  private def factMoments(fact: DataFrame): Map[String, Any] = {
    def cents(c: String) = coalesce((col(c) * 100).cast("long"), lit(77777L))
    val k = col("city_id").cast("long") * 100000L +
      datediff(col("date"), lit("1970-01-01").cast("date"))
    val r = fact.agg(count(lit(1)), sum(k),
      sum(pmod(k, lit(9973L)) * cents("temp_max")),
      sum(pmod(k, lit(9967L)) * cents("temp_min")),
      sum(pmod(k, lit(9949L)) * cents("precipitation"))).collect()(0)
    Map("n" -> r.getLong(0)) ++ (1 to 4).map(i =>
      s"s$i" -> (if (r.isNullAt(i)) 0L else r.getLong(i)))
  }

  private def filesUnder(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else if (dir.isFile) Map(dir.getPath -> dir.length())
    else dir.listFiles().toSeq.flatMap(f => filesUnder(f)).toMap

  /** Empty version-0 snapshots, the feed's initial state and the replica's
    * first commit: the warehouse before the first daily batch.
    */
  def init(spark: SparkSession, conf: Map[String, String]): Unit = {
    val r = Roots(conf("work"))
    def empty(s: StructType) = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    SnapshotStore.commitSnapshot(empty(dimSchema), r.dim)
    SnapshotStore.commitSnapshot(empty(factSchema), r.fact)
    SnapshotStore.commitSnapshot(empty(replicaSchema), r.replica)
    StreamOps.cdcFeedBatch(cdcView(empty(factSchema)), 0L, r.feed, "fkey", "fval")
  }

  private def inputs(conf: Map[String, String]): Seq[File] =
    new File(conf("inputs")).listFiles().filter(_.getName.startsWith("batch")).sortBy(_.getName).toSeq

  def run(spark: SparkSession, conf: Map[String, String], tracer: Tracer, out: Report): Unit = {
    val r = Roots(conf("work"))
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    var files = filesUnder(new File(r.root))
    for ((input, i) <- inputs(conf).zipWithIndex) {
      val id = i + 1L
      val stg = tracer.untimed(spark.read.parquet(input.getPath))
      var before: (DataFrame, DataFrame) = null
      var etl: Span = null
      val start = System.nanoTime()
      val err = try {
        tracer.span(s"batch$id") {
          val (dim, fact) = tracer.span("read", "sources") {
            (SnapshotStore.readCommitted(spark, r.dim), SnapshotStore.readCommitted(spark, r.fact))
          }
          before = (dim, fact)
          val (newDim, newFact) = tracer.span("etl", "pipeline") {
            etl = tracer.current
            val (d, f, _) = WeatherEtl.runBatch(stg, dim, fact)
            (d, f)
          }
          tracer.span("commit.dim", "sources")(SnapshotStore.commitSnapshot(newDim, r.dim))
          tracer.span("commit.fact", "sources")(SnapshotStore.commitSnapshot(newFact, r.fact))
          tracer.span("cdc.feed", "streaming") {
            StreamOps.cdcFeedBatch(cdcView(SnapshotStore.readCommitted(spark, r.fact)),
              id, r.feed, "fkey", "fval")
          }
          tracer.span("cdc.apply", "streaming") {
            StreamOps.cdcApplyBatch(spark.read.schema(changeSchema).parquet(r.changes(id)),
              id, r.consumer, "fkey")
          }
          tracer.span("retention", "sources") {
            r.snapshotRoots.foreach { root =>
              SnapshotStore.expireVersions(spark, root, KeepVersions)
              // each batch is a day: the 24 h orphan window has passed
              SnapshotStore.vacuumOrphans(spark, root, minAgeMs = 0L)
            }
          }
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val ms = (System.nanoTime() - start) / 1e6
      // untimed from here: the stage report (traced runs), what the batch
      // wrote, and the committed fact's moments
      val check = tracer.untimed {
        if (tracer.tracing && err.isEmpty) stageReport(stg, before._1, before._2, etl)
        try factMoments(SnapshotStore.readCommitted(spark, r.fact))
        catch { case e: Throwable => Map("error" -> e.getMessage) }
      }
      val now = filesUnder(new File(r.root))
      val written = now.filter { case (p, _) => !files.contains(p) }
      files = now
      batches += Map[String, Any]("batch" -> id, "ms" -> ms,
        "bytes_written" -> written.values.sum, "files_written" -> written.size,
        "commits" -> written.keys.count(_.matches(".*/_commits/v\\d+\\.json"))) ++
        check ++ err.map(e => "error" -> e)
    }
    out("batches") = batches.toSeq
  }

  /** Traced runs only, after the batch and outside its spans: the batch's
    * stages again through `RunReport.timed` on the same inputs, for
    * per-stage wall and row accounting recorded on the batch's `etl` span.
    */
  private def stageReport(stg: DataFrame, dim: DataFrame, fact: DataFrame, span: Span): Unit = {
    val (cleaned, clean) = RunReport.timed(stg, Seq(
      "dedup" -> WeatherEtl.dedupStaging _,
      "impute" -> WeatherEtl.imputeMissing _,
      "cap_outliers" -> WeatherEtl.capOutliers _))
    val newDim = WeatherEtl.dimInsertNew(dim, cleaned)
    val (_, dimRun) = RunReport.timed(cleaned, Seq("dim_insert" -> ((c: DataFrame) => WeatherEtl.dimInsertNew(dim, c))))
    val (_, factRun) = RunReport.timed(cleaned, Seq("fact_merge" -> ((c: DataFrame) => WeatherEtl.factMerge(fact, c, newDim))))
    (clean ++ dimRun ++ factRun).foreach(s => span.add(s"pipeline.${s.stage}_ms", s.wall_ms.toDouble))
    span.add("pipeline.rows_in", clean.head.rows_in.toDouble)
    span.add("pipeline.rows_dropped", clean.map(_.rows_dropped).sum.toDouble)
  }

  /** Untimed invariants after the last batch; each is one operation. */
  def checks(spark: SparkSession, conf: Map[String, String], out: Report): Unit = {
    val r = Roots(conf("work"))
    val last = inputs(conf).size.toLong
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    def check(name: String)(body: => (Boolean, String)): Unit = {
      val (ok, detail) = try body catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      results += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }
    def fp(df: DataFrame): String = {
      val row = Queries.fingerprint(df).collect()(0)
      s"${row.getLong(0)}:${if (row.isNullAt(1)) "null" else row.getDecimal(1).toPlainString}"
    }
    def fact = SnapshotStore.readCommitted(spark, r.fact)
    def replica = SnapshotStore.readCommitted(spark, r.replica).select(col("fkey"), col("p").as("fval"))

    // the final fact and dimension, for run.py's full recompute
    val dump = s"${conf("work")}/final"
    fact.select(col("city_id"), col("date").cast("string"), col("temp_max").cast("string"),
                col("temp_min").cast("string"), col("precipitation").cast("string"))
      .coalesce(1).write.mode("overwrite").option("nullValue", "N").csv(s"$dump/fact")
    SnapshotStore.readCommitted(spark, r.dim).coalesce(1).write.mode("overwrite").csv(s"$dump/dim")

    check("replica_equals_fact") {
      val a = cdcView(fact).exceptAll(replica).count()
      val b = replica.exceptAll(cdcView(fact)).count()
      (a == 0 && b == 0, s"fact-only=$a replica-only=$b")
    }
    check("feed_redelivery_is_noop") {
      val before = (fp(spark.read.schema(changeSchema).parquet(r.changes(last))),
                    fp(spark.read.parquet(r.state(last))))
      StreamOps.cdcFeedBatch(cdcView(fact), last, r.feed, "fkey", "fval")
      val after = (fp(spark.read.schema(changeSchema).parquet(r.changes(last))),
                   fp(spark.read.parquet(r.state(last))))
      (before == after, s"before=$before after=$after")
    }
    check("apply_redelivery_is_noop") {
      def versions = (SnapshotStore.committedVersions(spark, r.replica),
                      SnapshotStore.committedVersions(spark, r.bookmark))
      val (v0, rep0) = (versions, fp(replica))
      StreamOps.cdcApplyBatch(spark.read.schema(changeSchema).parquet(r.changes(last)),
        last, r.consumer, "fkey")
      val (v1, rep1) = (versions, fp(replica))
      (v0 == v1 && rep0 == rep1, s"versions ${v0 == v1} replica $rep0 -> $rep1")
    }
    out("checks") = results.toSeq
  }
}
