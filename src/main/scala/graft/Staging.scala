package graft

import org.apache.spark.sql.DataFrame

/** The durable-staging materialization seam shared by every multi-pass
  * operator tier (dedup, corpus, LM, ANN, events, workflow).
  *
  * Default (local mode): `localCheckpoint` — fast, but pinned to
  * executors, so a lost executor kills the job. Durable mode
  * (`spark.graft.stagingDir` set to a parquet-capable path): write-
  * then-read a staged table, so any lost task recomputes from the
  * staged files — the configuration a 100 TB run uses (SCALE.md). One
  * implementation and one key, so a change to the seam (cleanup
  * policy, conf plumbing) cannot silently diverge between tiers.
  *
  * Cleanup policy: every staged directory this process writes is
  * tracked; call [[cleanup]] once the run's OUTPUTS have been consumed
  * or persisted elsewhere to delete all of them. Deletion cannot be
  * automatic per-materialize — the returned DataFrame READS from the
  * staged files, and callers (Curation.run, the dedup passes) hand
  * such frames back to their callers — so the staging root is scratch
  * space owned by the session: either call [[cleanup]] at the end of a
  * run, or purge the root externally between runs.
  */
object Staging {

  /** The durable-staging root; unset means local mode. */
  private val Key = "spark.graft.stagingDir"

  private val staged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def materialize(df: DataFrame, tag: String): DataFrame =
    stagedPath(df.sparkSession, tag) match {
      case Some(path) =>
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None => df.localCheckpoint()
    }

  /** A fresh tracked directory `<root>/<tag>_<uuid8>` under the staging
    * root, or None in local mode — for stages that write their own
    * layout (e.g. AnnOps' partitioned IVF index). */
  def stagedPath(s: org.apache.spark.sql.SparkSession, tag: String): Option[String] =
    s.conf.getOption(Key).map { root =>
      val path = s"$root/${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
      staged.add(path)
      path
    }

  /** Paths staged (durable mode) by this process and not yet cleaned. */
  def stagedPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    staged.asScala.toSet
  }

  /** Delete every tracked staged directory. Call AFTER the run's
    * outputs are consumed or persisted — any DataFrame still reading a
    * staged path becomes invalid. Paths that fail to delete stay
    * tracked for a later attempt. */
  def cleanup(spark: org.apache.spark.sql.SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    staged.asScala.toSeq.foreach { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      if (scala.util.Try(path.getFileSystem(conf).delete(path, true)).isSuccess)
        staged.remove(p)
    }
  }
}
