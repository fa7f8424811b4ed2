package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main and the test suites
  * take their session from here, so the confs the engine depends on cannot
  * drift between entry points:
  *   - UTC session time zone: `Tables.events` reinterprets NTZ wall-clock as
  *     a session-TZ instant, so epoch math would drift on a non-UTC host;
  *   - `parquet.nanosAsLong`: `events.ts` is parquet TIMESTAMP(NANOS);
  *   - AQE on;
  *   - the `graft_*` SQL functions registered
  *     ([[functions.GraftFunctions.register]]).
  *
  * Local sessions run on `SPARK_GRAFT_MASTER`, else
  * `local[$SPARK_GRAFT_CPUS]` (default 4), with one shuffle partition per
  * core, the UI off and WARN logging. `SPARK_GRAFT_MASTER` may name a
  * `local-cluster[W,C,M]` (separate executor JVMs: real serialization and a
  * loopback shuffle); those executors need this repo's classes shipped,
  * `SPARK_GRAFT_JARS=<path to the sbt package jar>`, and take
  * `SPARK_GRAFT_EXEC_MEM` as their memory. */
object Session {

  /** Local core count, and the shuffle-partition count of local sessions. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Session for the local mains: `Bench`, `Verify` and `graft.tools`. */
  def local(): SparkSession =
    local(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)

  /** Local session on an explicit master; the test suites pin theirs. */
  private[graft] def local(master: String, partitions: String,
                           confs: (String, String)*): SparkSession = {
    val b = shared(SparkSession.builder().master(master), partitions)
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_JARS").foreach(b.config("spark.jars", _))
    sys.env.get("SPARK_GRAFT_EXEC_MEM").foreach(b.config("spark.executor.memory", _))
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = register(b.getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session under spark-submit ([[Main]]): the submit supplies the master,
    * and the UI and logging stay as the deployment configures them. Shuffle
    * partitions default to 32 (`SPARK_GRAFT_CPUS` overrides). */
  def submitted(): SparkSession =
    register(shared(SparkSession.builder(),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate())

  private def shared(b: SparkSession.Builder, partitions: String): SparkSession.Builder =
    b.appName("graft")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  private def register(s: SparkSession): SparkSession = {
    functions.GraftFunctions.register(s)
    s
  }
}
