package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span: one timed call at a layer boundary. `parent` is the id of the
  * enclosing span (0 = none); all spans of a run share `Trace.runId`. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Per-stage totals summed from task-end events. */
final class StageAgg {
  var submitNs = 0L; var endNs = 0L
  var runMs = 0L; var shuffleWrite = 0L; var spill = 0L
  var bytesWritten = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
}

/** One Spark job: its phase (the benchmark's `perfbench.phase` local
  * property at submission) and the named public function it ran for
  * (empty when none is found). */
final class JobAgg(val jobId: Int, val startNs: Long, val phase: String) {
  var endNs = 0L
  var owner: String = ""
  val stages = mutable.ArrayBuffer[StageAgg]()
}

/** Everything the benchmark records from outside the program: spans
  * around its own calls, Spark's listener events and streaming progress
  * records. `full = false` (the untraced run) keeps only the per-stage
  * sums and progress records the end-to-end metrics need; `full = true`
  * adds task durations and the owner of every job. */
final class Trace(sc: SparkContext, val full: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0L
  private val openSpan = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  val jobs = mutable.LinkedHashMap[Int, JobAgg]()
  private val stages = mutable.HashMap[Int, StageAgg]()
  val progress = mutable.ArrayBuffer[java.util.Map[String, java.lang.Long]]()

  private def nanos(ms: Long): Long =
    System.nanoTime() - (System.currentTimeMillis() - ms) * 1000000L

  /** Times `body` as a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextSpan += 1; nextSpan }
    val parent: Long = openSpan.get
    openSpan.set(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      openSpan.set(parent)
      synchronized { spans += Span(id, parent, name, t0, t1) }
    }
  }

  /** Tags every job submitted from this thread with `phase` and, when
    * given, `calls`: the public function whose lazily built DataFrame
    * the benchmark executes itself (its jobs carry no frame of it). */
  def phase(name: String, calls: String = ""): Unit = {
    sc.setLocalProperty("perfbench.phase", name)
    sc.setLocalProperty("perfbench.calls", calls)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val j = new JobAgg(e.jobId, nanos(e.time), prop("perfbench.phase"))
      if (full) j.owner = Some(Owners.of(e, sc)).filter(_.nonEmpty).getOrElse(prop("perfbench.calls"))
      Trace.this.synchronized {
        jobs(e.jobId) = j
        e.stageIds.foreach { s =>
          val st = stages.getOrElseUpdate(s, new StageAgg)
          j.stages += st
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endNs = nanos(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach(
        _.submitNs = nanos(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      stages.get(e.stageInfo.stageId).foreach(
        _.endNs = nanos(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Trace.this.synchronized {
        stages.get(e.stageId).foreach { st =>
          st.runMs += m.executorRunTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.bytesWritten += m.outputMetrics.bytesWritten
          if (full) st.taskMs += e.taskInfo.duration
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e.progress.durationMs }
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    val m = sc.getClass.getMethod("listenerBus")
    val bus = m.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def jobsIn(phasePrefix: String): Seq[JobAgg] =
    synchronized { jobs.values.filter(_.phase.startsWith(phasePrefix)).toSeq }
}

/** Finds the named public function a Spark job ran for. The first
  * choice is the innermost graft frame of the stage's call-site stack
  * (`StageInfo.details`). A streaming micro-batch pins every job's call
  * site to the stream's `start()`, which names no such function, so for
  * those (and any other job whose call site names none) the stack of
  * the thread running the job's SQL execution is sampled instead; that
  * thread is found through Spark's inheritable local properties. */
object Owners {

  val named: Set[String] = Set(
    "LakeTable.upsert", "LakeTable.compactBuckets", "LakeTable.compact", "LakeTable.read",
    "LakeTable.readKey", "LakeTable.readChanges", "LakeTable.readChangesChunked",
    "Apply.applyEpoch", "Audit.record", "Audit.compactNow", "Audit.read",
    "Pipeline.replaySegments", "Pipeline.writeLogSegments", "Oracle.digest", "Fold.state")

  /** "graft.cdc.LakeTable.$anonfun$upsert$1(LakeTable.scala:470)" ->
    * "LakeTable.upsert"; an operator module frame -> "ops.<Module>". */
  def key(frame: String): Option[String] = {
    val full = frame.trim.takeWhile(_ != '(')
    val dot = full.lastIndexOf('.')
    if (dot < 0) return None
    val cls = full.substring(0, dot)
    val simple = cls.substring(cls.lastIndexOf('.') + 1).takeWhile(_ != '$')
    val m0 = full.substring(dot + 1)
    val m1 = if (m0.contains("$$")) m0.substring(m0.lastIndexOf("$$") + 2) else m0
    val method = (if (m1.startsWith("$anonfun$")) m1.stripPrefix("$anonfun$") else m1)
      .takeWhile(_ != '$')
    if (cls.startsWith("graft.operators.") && simple != "Queries") Some(s"ops.$simple")
    else if (cls.startsWith("graft.") || cls.startsWith("perfbench."))
      Some(s"$simple.$method").filter(named.contains)
    else None
  }

  def innermost(frames: Seq[String]): Option[String] = frames.iterator.flatMap(key).nextOption()

  def of(e: SparkListenerJobStart, sc: SparkContext): String = {
    val fromDetails = innermost(e.stageInfos.sortBy(_.stageId).lastOption.toSeq
      .flatMap(_.details.split("\n")))
    fromDetails.getOrElse {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      exec.flatMap(sampled(_, sc)).getOrElse("")
    }
  }

  private def localProps(sc: SparkContext): Option[ThreadLocal[_]] = scala.util.Try {
    val m = classOf[SparkContext].getDeclaredMethods.find(_.getName == "localProperties").get
    m.setAccessible(true)
    m.invoke(sc).asInstanceOf[ThreadLocal[_]]
  }.toOption

  private lazy val threadLocals = {
    val f = classOf[Thread].getDeclaredField("inheritableThreadLocals")
    f.setAccessible(true)
    f
  }

  private def propsOf(t: Thread, tl: ThreadLocal[_]): Option[java.util.Properties] = scala.util.Try {
    val map = threadLocals.get(t)
    val getEntry = map.getClass.getDeclaredMethod("getEntry", classOf[ThreadLocal[_]])
    getEntry.setAccessible(true)
    val entry = getEntry.invoke(map, tl)
    val value = entry.getClass.getDeclaredField("value")
    value.setAccessible(true)
    value.get(entry).asInstanceOf[java.util.Properties]
  }.toOption.flatMap(Option(_))

  private def sampled(exec: String, sc: SparkContext): Option[String] = localProps(sc).flatMap { tl =>
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.asScala.iterator.collect {
      case (t, stack) if propsOf(t, tl).exists(p => p.getProperty("spark.sql.execution.id") == exec) =>
        innermost(stack.toSeq.map(f => s"${f.getClassName}.${f.getMethodName}("))
    }.flatten.nextOption()
  }
}
