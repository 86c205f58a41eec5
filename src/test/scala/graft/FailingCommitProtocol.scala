package graft

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Crash injection for parquet writes, through Spark's own
  * `spark.sql.sources.commitProtocolClass` setting: every write task
  * whose output path contains the armed dir fails at setup, so the
  * write job dies inside its tasks (no main-code option involved).
  * Local-mode tasks run in the driver JVM, so the armed target is a
  * plain global. */
class FailingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  override def setupTask(ctx: TaskAttemptContext): Unit = {
    if (FailingCommitProtocol.armed.exists(path.contains(_)))
      throw new java.io.IOException(s"injected write-task failure for $path")
    super.setupTask(ctx)
  }
}

object FailingCommitProtocol {
  @volatile private var armed: Option[String] = None

  /** Run `body` with every parquet write below `dir` failing. */
  def failingWritesUnder[T](spark: org.apache.spark.sql.SparkSession, dir: String)(
      body: => T): T = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    armed = Some(dir)
    try body
    finally {
      armed = None
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
