package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** A file-commit protocol that fails the first write task to reach
  * `commitTask` after writing a file, once per [[FailOnceCommitProtocol.arm]]:
  * the task has consumed all its rows, so the retry re-reads and re-writes
  * them. Selected per write with `spark.sql.sources.commitProtocolClass`;
  * the retry needs a session whose master allows two task attempts.
  */
class FailOnceCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    FailOnceCommitProtocol.wrote.put(ctx.getTaskAttemptID.toString, ())
    super.newTaskTempFile(ctx, dir, spec)
  }

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    if (FailOnceCommitProtocol.wrote.containsKey(ctx.getTaskAttemptID.toString) &&
        TaskContext.get().attemptNumber() == 0 &&
        FailOnceCommitProtocol.armed.compareAndSet(true, false))
      throw new java.io.IOException("injected write-task failure")
    super.commitTask(ctx)
  }
}

object FailOnceCommitProtocol {
  private val armed = new AtomicBoolean(false)
  private val wrote = new ConcurrentHashMap[String, Unit]()

  def arm(): Unit = { wrote.clear(); armed.set(true) }

  /** True once the armed failure has been thrown. */
  def fired: Boolean = !armed.get()
}
