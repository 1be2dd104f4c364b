package graft.cdcbench

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <tail|backfill> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <result.json>`.
  * Writes the run's metrics as one JSON object to `--out`; `run.py`
  * wraps this with the build and the host-load annotation. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    require(Set("tail", "backfill")(workload),
      s"unknown workload '$workload'")

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"cdcbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // first job pays class loading and codegen set-up, like any session
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionSec = (System.nanoTime() - s0) / 1e9

    val run = new Run(spark, new Tracer(spark, traced), work, seed, seconds,
      sessionSec, wrongExpectation = opts.get("wrong-expectation").contains("1"))
    val result = workload match {
      case "tail" => Tail.run(run)
      case "backfill" => Backfill.run(run)
    }
    run.trace.drain()
    run.add("jvm_s", (System.nanoTime() - s0) / 1e9)
    val out = Metrics.render(run, workload, result)
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(out) finally w.close()
    opts.get("spans").foreach(run.trace.write)
    spark.stop()
  }
}
