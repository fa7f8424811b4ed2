package graftbench

/** Input generation, done by `perfbench/gen.py` (numpy + pyarrow) so that
  * set-up does not spend Spark jobs on it. Each job names a generator, its
  * arguments and an output directory; the same seed gives the same files. */
object Gen {
  private val script = sys.props.getOrElse("graftbench.gen", "perfbench/gen.py")
  private val python = sys.props.getOrElse("graftbench.python", "python3")

  def run(jobs: Map[String, Any]*): Unit = {
    val p = new ProcessBuilder(python, script, Json.value(jobs)).inheritIO().start()
    val code = p.waitFor()
    require(code == 0, s"input generation exited $code")
  }
}
