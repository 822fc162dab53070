package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains build a local SparkSession. */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every core the
    * JVM sees. A bad value fails here, naming the variable, rather than
    * as an opaque master-URL error. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n >= 1, s"SPARK_GRAFT_CPUS must be a whole number >= 1, got '$v'")
      n
  }

  /** `local[cpus]` with as many shuffle partitions, UTC session time and
    * no UI; `conf` adds or overrides settings. An already-active session
    * is reused, and only its runtime SQL settings change. */
  def local(cpus: Int = Session.cpus,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
