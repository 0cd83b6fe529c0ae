package graft.bench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Per-job-group accounting, fed by [[Trace]]'s listener. One instance per
  * layer span; every Spark job submitted while the span's job group is set
  * lands here. */
final class GroupStats {
  var jobs = 0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var gcMs = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  val jobSpans: mutable.ArrayBuffer[JobSpan] = mutable.ArrayBuffer.empty

  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1e6
  def spillMb: Double = spillBytes / 1e6
  def gcS: Double = gcMs / 1e3

  /** max ÷ p50 task time; 1.0 when there are no tasks or p50 is 0 ms. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      val p50 = s(s.length / 2)
      if (p50 <= 0) s.last.toDouble.max(1.0) else s.last.toDouble / p50
    }

  /** Seconds of wall time covered by at least one of this group's jobs. */
  def jobCoveredS: Double = GroupStats.coveredS(jobSpans.toSeq)
}

object GroupStats {
  /** Seconds of wall time covered by at least one of `spans`. */
  def coveredS(spans: Seq[JobSpan]): Double = {
    val iv = spans.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }
}

/** One job of a traced group. `callSite` is the user call site of the SQL
  * execution that ran the job (e.g. "parquet at StageRunner.scala:64"),
  * or the result stage's name for jobs outside any SQL execution. */
final class JobSpan(val jobId: Int, val execId: Long, val callSite: String, val startMs: Long) {
  var endMs: Long = -1L
  var wroteOutput = false
}

/** Listener-backed measurement shared by the untraced and the traced runs.
  *
  *  - Block accounting (always on): live bytes of RDD blocks (cache and
  *    checkpoint blocks, memory + disk) from block-update events, and the
  *    peak since the last [[resetPeak]]. Broadcast pieces are excluded —
  *    they are freed by the context cleaner at GC time, not by the program.
  *  - Job-group accounting (traced run only): [[span]] sets a named job
  *    group around a layer call, and the listener adds up jobs, shuffle,
  *    spill, output bytes, GC and task times for that group.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]
  private var liveBytes = 0L
  private var peakBytes = 0L

  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.HashMap.empty[Int, (String, JobSpan)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execCallSite = mutable.HashMap.empty[Long, String]

  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val info = e.blockUpdatedInfo
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        liveBytes += now - blockBytes.getOrElse(id, 0L)
        if (now > 0) blockBytes(id) = now else blockBytes.remove(id)
        peakBytes = math.max(peakBytes, liveBytes)
      case _ => ()
    }
  }

  // unpersisting an RDD removes its blocks without block-update events
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blockBytes.keys.filter(_.rddId == e.rddId).toSeq.foreach { id =>
      liveBytes -= blockBytes.remove(id).getOrElse(0L)
    }
  }

  // AQE submits a query's stage jobs from its own threads, so a job's
  // result-stage name need not show the user call site; the SQL execution
  // that owns the job records it
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized { execCallSite(x.executionId) = x.description }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { name =>
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val callSite = execCallSite.getOrElse(execId,
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      val span = new JobSpan(e.jobId, execId, callSite, e.time)
      val st = groups.getOrElseUpdate(name, new GroupStats)
      st.jobs += 1
      st.jobSpans += span
      jobs(e.jobId) = (name, span)
      e.stageIds.foreach { s => stageGroup(s) = name; stageJob(s) = e.jobId }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_._2.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { name =>
      val st = groups(name)
      st.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.outputBytes += m.outputMetrics.bytesWritten
        st.gcMs += m.jvmGCTime
        if (m.outputMetrics.bytesWritten > 0)
          stageJob.get(e.stageId).flatMap(jobs.get).foreach(_._2.wroteOutput = true)
      }
    }
  }

  def resetPeak(): Unit = synchronized { peakBytes = liveBytes }
  def peakMb: Double = synchronized(peakBytes / 1e6)

  def stats(group: String): GroupStats = synchronized(groups.getOrElse(group, new GroupStats))
  def clearGroups(): Unit = synchronized {
    groups.clear(); stageGroup.clear(); jobs.clear(); stageJob.clear()
  }

  /** Runs `body` (the layer call plus the action that materialises its
    * output) under job group `group`; returns its result and wall seconds.
    * Listener events arrive asynchronously, so callers read [[stats]] only
    * after [[settle]]. */
  def span[A](group: String)(body: => A): (A, Double) = {
    // no job description: SQL executions then record the user call site
    sc.setJobGroup(group, null, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally sc.clearJobGroup()
  }

  /** Waits (up to 10 s) until every job the scheduler ran under `groups`
    * has its end event here. Task events precede their job's end event on the listener bus,
    * so the group tallies are complete once this returns. */
  def settle(groups: Seq[String]): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    val submitted = groups.flatMap(g => sc.statusTracker.getJobIdsForGroup(g).toSeq)
    def pending = synchronized(submitted.exists(id => jobs.get(id).forall(_._2.endMs < 0)))
    while (pending && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Waits (up to 10 s) until no RDD block is held; true when none is. The
    * program frees checkpoint blocks asynchronously (`unpersist(false)`). */
  def awaitNoBlocks(): Boolean = {
    val deadline = System.nanoTime() + 10000000000L
    def held = sc.getPersistentRDDs.nonEmpty || synchronized(liveBytes > 0) ||
      sc.getRDDStorageInfo.exists(_.numCachedPartitions > 0)
    while (held && System.nanoTime() < deadline) Thread.sleep(20)
    !held
  }
}
