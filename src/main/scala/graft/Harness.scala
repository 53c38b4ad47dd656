package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local SparkSession recipe every entry point (Bench, Verify,
  * Plans, Scratch, ScaleBench, Demo) and the test suites share, so
  * their confs cannot drift apart. Master and conf list only: the log
  * level and any extra conf stay at the call site.
  */
private[graft] object Harness {

  /** The engine's extensions, UTC, one shuffle partition per core and
    * no UI — what Verify's oracle comparison depends on. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def session(app: String, cpus: Int): SparkSession =
    SparkSession.builder().master(s"local[$cpus]").appName(app)
      .config(confs(cpus).toMap).getOrCreate()

  /** Run a frame's full plan without collecting it: a noop write (no
    * driver collect, no aggregate-pushdown shortcut a bare count()
    * would take). */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
