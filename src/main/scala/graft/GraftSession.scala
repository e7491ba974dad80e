package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main builds through.
  *
  * Env: `SPARK_GRAFT_MASTER` (default `local[cpus]`) and
  * `SPARK_GRAFT_CPUS` (default 4). Shuffle partitions follow `cpus`;
  * sessions run UTC, with the UI off and WARN logging. For a
  * `local-cluster[...]` master the launching JVM's classpath is shipped
  * to the executor processes ([[SparkLaunch]]): local-cluster workers
  * launch executors with only the Spark jars, so without it every task
  * fails deserializing the application's classes.
  */
object GraftSession {

  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** `SPARK_GRAFT_MASTER`, else `local[cpus]`. `SPARK_MASTER` was read
    * by older MigrateCli builds; a run still setting it alone fails
    * here rather than silently running on the launching host.
    */
  def envMaster(cpus: Int): String = {
    require(!sys.env.contains("SPARK_MASTER") ||
        sys.env.contains("SPARK_GRAFT_MASTER"),
      "SPARK_MASTER is no longer read: set SPARK_GRAFT_MASTER (and " +
        "SPARK_GRAFT_CPUS) instead")
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
  }

  /** A session with master and cpus both from the environment. */
  def build(app: String): SparkSession = {
    val cpus = envCpus
    build(app, cpus, envMaster(cpus))
  }

  def build(app: String, cpus: Int, master: String): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", SparkLaunch.executorClasspath)
    else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
