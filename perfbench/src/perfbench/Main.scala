package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark JVM. `run.py` launches it with `key=value` arguments, reads
  * the JSON it writes to `out=`, and turns that into the metrics. With
  * `setup_only=1` it stops after the set-up, before the first operation.
  * The JVM only measures and reports; correctness is judged by `run.py`
  * against pins and its own lifecycle model.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = conf("workload")
    val cores = conf("cores").toInt
    val work = conf("work")
    val trace = conf.getOrElse("trace", "0") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Sessions.tune(spark)
    val out = new Report
    out("session_epoch_ms") = System.currentTimeMillis()
    warmup(spark, work)
    val tracer = new Tracer(spark.sparkContext, trace)
    tracer.install(spark)
    if (workload == "daily_lifecycle") Lifecycle.init(spark, conf)
    out("first_op_epoch_ms") = System.currentTimeMillis()
    if (conf.get("setup_only").contains("1")) {
      // a repeat of the set-up alone, for the median in `setup_s`
      spark.stop()
      Report.write(conf("out"), out)
      return
    }
    tracer.span("run") {
      workload match {
        case "warehouse_bi" | "iterative_fit" => Queries.run(spark, conf, tracer, out)
        case "daily_lifecycle" => Lifecycle.run(spark, conf, tracer, out)
        case "pin" => Queries.pin(spark, conf, out)
        case w => sys.error(s"unknown workload $w")
      }
    }
    out("peak_rss_kb") = vmHwmKb()
    // untimed correctness work deferred until after measuring
    if (workload == "daily_lifecycle") Lifecycle.checks(spark, conf, out)
    out("confs") = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    out("jdk") = System.getProperty("java.vm.version")
    out("max_heap_mb") = Runtime.getRuntime.maxMemory / (1L << 20)
    out("cores") = cores
    // stop drains the listener bus, so every event is in `tracer.stats`
    spark.stop()
    out("spans") = tracer.all.map { s =>
      val st = tracer.stats.get(s.id.toString)
      Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name, "layer" -> s.layer,
        "ms" -> s.ms, "codegen_compiles" -> s.codegenCompiles,
        "codegen_ms" -> s.codegenMs, "gc_ms" -> s.gcMs) ++ s.counters ++
        st.fold(Map.empty[String, Any])(Report.statsMap)
    }
    Report.write(conf("out"), out)
  }

  /** The peak resident set of this JVM, from /proc (0 where unavailable). */
  def vmHwmKb(): Long = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0L
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally src.close()
    }
  }

  /** Generic warm-up: one aggregation over a join, written to parquet and
    * read back, so scheduler, codegen, shuffle and parquet bring-up is paid
    * before the first timed operation. It touches none of the workloads'
    * inputs or builders.
    */
  private def warmup(spark: SparkSession, work: String): Unit = {
    val df = spark.range(0, 20000)
      .select(col("id"), (col("id") % 97).as("k"), (col("id") * 1.5).cast("decimal(10,2)").as("d"))
    df.join(df.groupBy("k").agg(sum("d").as("s")), "k")
      .write.mode("overwrite").parquet(s"$work/warmup")
    spark.read.parquet(s"$work/warmup").agg(sum(xxhash64(col("id"), col("s")).cast("decimal(38,0)")))
      .collect()
  }
}

/** An ordered JSON object, written once at the end of the run. */
final class Report extends mutable.LinkedHashMap[String, Any]

object Report {
  def statsMap(st: SpanStats): Map[String, Any] = Map(
    "jobs" -> st.jobs, "job_ms" -> st.jobMs, "stages" -> st.stages, "tasks" -> st.tasks,
    "task_run_ms" -> st.taskRunMs, "task_cpu_ns" -> st.taskCpuNs,
    "shuffle_read" -> st.shuffleRead, "shuffle_write" -> st.shuffleWrite,
    "spill" -> st.spill, "peak_exec_mem" -> st.peakExecMem, "input_bytes" -> st.inputBytes,
    "analysis_ms" -> st.analysisMs,
    "optimize_ms" -> st.optimizeMs, "plan_ms" -> st.planMs,
    "plan_nodes" -> st.planNodes, "exchanges" -> st.exchanges,
    "codegen_stages" -> st.codegenStages)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
