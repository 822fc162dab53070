package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by run.py once per benchmark run:
  *
  *   perfbench.Main <workload> <data_dir> <work_dir> <out_json>
  *                  <seconds> <trace 0|1> <seed> <size>
  *
  * Runs one workload against the engine's public API and writes its
  * measurements to `out_json`. `size` is the workload's input size
  * (features: scale factor; serve: requests per pass; train: rows). */
object Main {

  final case class Args(workload: String, data: String, work: String, out: String,
                        seconds: Double, trace: Boolean, seed: Long, size: Double) {
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  /** What a workload measured. `e2e` and `layers` are flat name → value
    * maps; `detail` holds per-operation figures for the trace file. */
  final case class Result(attempted: Long, failed: Long, correct: Boolean,
                          e2e: Seq[(String, Double)], layers: Seq[(String, Double)],
                          detail: Seq[(String, Double)] = Nil,
                          notes: Seq[String] = Nil)

  /** The session every workload runs in: the `graft.Bench` settings at the
    * box's core count, with Spark's scratch space inside the work dir. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(): Unit = SparkSession.getActiveSession.foreach(_.stop())

  /** Time `rounds` set-ups, each from a stopped session; returns seconds. */
  def setupRounds(a: Args, rounds: Int)(setup: SparkSession => Unit): Seq[Double] =
    (1 to rounds).map { _ =>
      stopSession()
      val t0 = System.nanoTime()
      setup(session(a))
      (System.nanoTime() - t0) / 1e9
    }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 8, "usage: Main <workload> <data> <work> <out> <seconds> <trace> <seed> <size>")
    val a = Args(argv(0), argv(1), argv(2), argv(3), argv(4).toDouble,
      argv(5) == "1", argv(6).toLong, argv(7).toDouble)
    Files.createDirectories(Paths.get(a.work))
    val r = a.workload match {
      case "features" => Features.run(a)
      case "serve"    => ServeLoad.run(a)
      case "train"    => Train.run(a)
      case w          => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    Files.writeString(Paths.get(a.out), toJson(r))
    stopSession()
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  def toJson(r: Result): String =
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, "correct": ${r.correct},
       | "e2e": ${obj(r.e2e)},
       | "layers": ${obj(r.layers)},
       | "detail": ${obj(r.detail)},
       | "notes": ${r.notes.map(str).mkString("[", ", ", "]")}}
       |""".stripMargin
}
