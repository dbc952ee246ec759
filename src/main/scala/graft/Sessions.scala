package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. Every entry point (Bench,
  * Verify, Cli, Explain, the sweep and diagnostic mains) and the test
  * session call [[local]], so the bench measures exactly the
  * configuration Verify checks and Explain prints the plan that runs.
  *
  * The session:
  *   - master `SPARK_MASTER` when set (a deployment setting), otherwise
  *     `local[cores]`;
  *   - `spark.sql.shuffle.partitions` = cores;
  *   - UTC session time zone, UI off, WARN logging;
  *   - the engine's Catalyst extensions and CBO ([[plans.GraftRuntime]]).
  *
  * The only per-caller differences: `extra` confs for ScalingBench
  * (`spark.task.maxFailures=4` plus its experiment confs) and a temp
  * `spark.sql.warehouse.dir` for DriftSweep and the test session (both
  * create catalog tables); the test session's fixed 4 cores; and the test
  * session lowering its log level to ERROR after the call, to keep spec
  * output readable. */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, otherwise every core the JVM sees. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(app: String, cores: Int = Sessions.cores,
            extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftRuntime.enable(spark)
    spark
  }
}
