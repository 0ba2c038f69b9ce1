package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler work attributed to one (phase, layer) pair. */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskCpuNs = 0L
  var taskWaitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Tally): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskCpuNs += o.taskCpuNs
    taskWaitMs += o.taskWaitMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Counts every job, stage and task and charges it to the phase and
  * layer the client thread had set when the job was submitted (the
  * `perfbench.phase` / `perfbench.layer` local properties, which Spark
  * copies into each job's properties).
  *
  * A job whose call site is `Tables.scala` is parquet schema inference
  * and is charged to the `tables` layer whichever layer launched it.
  */
final class Counters extends SparkListener {
  import Counters._

  private val tallies = new ConcurrentHashMap[(String, String), Tally]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
  private val jobOwner = new ConcurrentHashMap[Int, ((String, String), Long)]()
  // inference jobs by the (phase, layer) that launched them, so that
  // layer's self time can be split into its own work and table resolution
  private val tablesJobMs = new ConcurrentHashMap[(String, String), java.lang.Long]()
  private val tablesLauncher = new ConcurrentHashMap[Int, (String, String)]()

  private def tally(key: (String, String)): Tally =
    tallies.computeIfAbsent(key, _ => new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val phase = prop(PhaseKey).getOrElse("other")
    // a stage is named after its job's call site, e.g. "parquet at Tables.scala:20"
    val layer =
      if (e.stageInfos.exists(_.name.contains("Tables.scala"))) "tables"
      else prop(LayerKey).getOrElse("other")
    val key = (phase, layer)
    if (layer == "tables")
      tablesLauncher.put(e.jobId, (phase, prop(LayerKey).getOrElse("other")))
    jobOwner.put(e.jobId, (key, e.time))
    e.stageIds.foreach(stageOwner.put(_, key))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.remove(e.jobId)).foreach { case (key, start) =>
      val t = tally(key)
      t.synchronized { t.jobs += 1 }
      Option(tablesLauncher.remove(e.jobId)).foreach { launcher =>
        tablesJobMs.merge(launcher, e.time - start, (a, b) => a + b)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { key =>
      val t = tally(key)
      t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { key =>
      val t = tally(key)
      val info = e.taskInfo
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (info != null && info.failed) t.failedTasks += 1
        if (m != null) {
          t.taskCpuNs += m.executorCpuTime
          t.shuffleReadBytes +=
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.diskBytesSpilled
          if (info != null) {
            // the Spark UI's scheduler delay: task wall time not spent
            // deserializing, running, serializing or fetching the result
            val busy = m.executorRunTime + m.executorDeserializeTime +
              m.resultSerializationTime + info.gettingResultTime
            t.taskWaitMs += math.max(0L, info.duration - busy)
          }
        }
      }
    }

  /** Sum of the tallies whose (phase, layer) pass `keep`, once the
    * listener bus has delivered every event so far. */
  def sum(sc: SparkContext)(keep: (String, String) => Boolean): Tally = {
    org.apache.spark.perfbench.BusAccess.awaitListeners(sc)
    val out = new Tally
    tallies.forEach((k, t) => if (keep(k._1, k._2)) t.synchronized { out += t })
    out
  }

  /** Milliseconds of table-resolution jobs launched inside each layer
    * of `phase`. */
  def tablesMsWithin(sc: SparkContext, phase: String): Map[String, Long] = {
    org.apache.spark.perfbench.BusAccess.awaitListeners(sc)
    val out = Map.newBuilder[String, Long]
    tablesJobMs.forEach((k, v) => if (k._1 == phase) out += k._2 -> v.longValue)
    out.result()
  }
}

object Counters {
  val PhaseKey = "perfbench.phase"
  val LayerKey = "perfbench.layer"
}
