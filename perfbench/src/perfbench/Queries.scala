package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two query workloads: a cold pass over the workload's frozen list in
  * seed-permuted order, then a fixed number of whole warm passes, each
  * freshly permuted. Every execution is fingerprinted; `run.py` checks
  * the fingerprints against the pins.
  */
object Queries {
  /** Whole warm passes after the cold pass. */
  val WarmPasses = 3

  /** Order-insensitive fingerprint that computes every output column: row
    * count plus the sum of a 64-bit hash over all columns. Columns are
    * renamed positionally first, so duplicate output names cannot collide.
    */
  def fingerprint(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.agg(count(lit(1)).as("n"),
      sum(xxhash64(named.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")).as("h"))
  }

  private def registry(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name, sys.error(s"no registry entry $name"))

  def run(spark: SparkSession, conf: Map[String, String], tracer: Tracer, out: Report): Unit = {
    val data = conf("data")
    val names = conf("queries").split(",").toIndexedSeq
    val seconds = conf("seconds").toDouble
    val rng = new scala.util.Random(conf("seed").toLong)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9

    def once(name: String, pass: Int): Unit = {
      val fn = registry(name)
      val start = System.nanoTime()
      val res: Either[String, (Long, String, String)] =
        try tracer.span(name) {
          val df = tracer.span("build", "operators")(fn(spark, data))
          val fp = tracer.span("optimize", "catalyst") {
            val f = fingerprint(df)
            f.queryExecution.optimizedPlan
            f
          }
          tracer.span("plan", "catalyst")(fp.queryExecution.executedPlan)
          val row = tracer.span("execute", "exec")(fp.collect()(0))
          Right((row.getLong(0), if (row.isNullAt(1)) "null" else row.getDecimal(1).toPlainString,
                 df.schema.simpleString))
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val ms = (System.nanoTime() - start) / 1e6
      ops += (res match {
        case Right((n, h, schema)) =>
          Map("name" -> name, "pass" -> pass, "ms" -> ms, "n" -> n, "h" -> h, "schema" -> schema)
        case Left(err) => Map("name" -> name, "pass" -> pass, "ms" -> ms, "error" -> err)
      })
      // outside the timed region: drop what the builder pinned
      tracer.untimed(spark.catalog.clearCache())
    }

    rng.shuffle(names).foreach(once(_, 0))
    // A fixed number of whole warm passes, so every run does the same work;
    // the time box only stops further passes on a much slower machine.
    for (pass <- 1 to WarmPasses if pass == 1 || elapsed < seconds) {
      tracer.untimed(System.gc())
      rng.shuffle(names).foreach(once(_, pass))
    }
    out("ops") = ops.toSeq
  }

  /** Pin generation: one execution per query, its fingerprint, and a
    * parquet dump of the same frame for the DuckDB cross-check.
    */
  def pin(spark: SparkSession, conf: Map[String, String], out: Report): Unit = {
    val data = conf("data")
    val dump = conf.get("dump")
    val ops = conf("queries").split(",").toIndexedSeq.map { name =>
      try {
        val df = registry(name)(spark, data)
        val row = fingerprint(df).collect()(0)
        dump.foreach(d => registry(name)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$d/$name"))
        spark.catalog.clearCache()
        Map[String, Any]("name" -> name, "n" -> row.getLong(0),
          "h" -> (if (row.isNullAt(1)) "null" else row.getDecimal(1).toPlainString),
          "schema" -> df.schema.simpleString)
      } catch { case e: Throwable =>
        Map[String, Any]("name" -> name, "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    }
    out("ops") = ops
    dump.foreach { d =>
      val oracles = graft.SparkEntry.oracleSql.filter(kv => ops.exists(_("name") == kv._1))
      Report.write(s"$d/oracle_sql.json", oracles)
    }
  }
}
