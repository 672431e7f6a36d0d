package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result as one JSON object.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cores <n> --work <dir> --out <result.json> --spans <spans.jsonl>
  * }}}
  *
  * Everything the run writes goes under `--work`, which the caller deletes
  * afterwards. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(args("work"))
    work.mkdirs()
    val cores = args("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, args("trace") == "1")
    val run = Run(spark, tracer, args("seed").toLong, args("seconds").toDouble,
      new File(work, "data"))
    try {
      val o = args("workload") match {
        case "ingest_mixed" => IngestWorkload.run(run)
        case "neardup_stream" => StreamWorkload.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val metrics = o.metrics.map(m =>
        s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""").mkString(", ")
      write(args("out"),
        s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, """ +
          s""""failed": ${o.failed}, "metrics": {$metrics}}""")
      if (tracer.traced) write(args("spans"), tracer.all.map(s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "request": ${s.request}, """ +
          s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
        .mkString("\n"))
    } finally spark.stop()
  }

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(text) finally w.close()
  }
}
