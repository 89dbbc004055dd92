package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts at call boundaries, plus the Spark jobs and Catalyst
  * phases under them. Disabled (the untraced run), every method is a
  * pass-through: no listener is registered and nothing is recorded.
  *
  * A span is (id, name, parent, op, start, end). Jobs carry the id of the
  * innermost open span through a SparkContext local property, so a job
  * is attributed exactly, never by timestamp. Everything stays in memory
  * until [[appendJson]]. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Wall-clock milliseconds on a monotonic base (sub-ms resolution). */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val counts = ArrayBuffer.empty[(Int, Int, String, Double)]
  private var stack: List[Int] = Nil
  private var op = -1

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val phases = ArrayBuffer.empty[(Double, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = prop("callSite.short")
        .orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.name)).getOrElse("")
      jobs(e.jobId) = new Job(e.jobId, prop(SpanProp).map(_.toInt).getOrElse(-1),
        prop(OpProp).map(_.toInt).getOrElse(-1), e.time.toDouble, site)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); if m != null) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) phases.synchronized {
        phases += ph.values.map(_.startTimeMs).min.toDouble -> ph.values.map(_.durationMs).sum.toDouble
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def beginOp(idx: Int): Unit = if (enabled) {
    op = idx
    sc.setLocalProperty(OpProp, idx.toString)
  }

  def endOp(): Unit = if (enabled) {
    op = -1
    sc.setLocalProperty(OpProp, null)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val s = Span(id, name, parent, op, nowMs())
      spans += s
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      try body
      finally {
        s.endMs = nowMs()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  /** A count recorded at the current boundary (traced run only). */
  def count(key: String, value: => Double): Unit =
    if (enabled) counts += ((op, stack.headOption.getOrElse(-1), key, value))

  /** Runs `body`, counting the files it left under `dir`: bytes, files and
    * the distinct partition directories they landed in. */
  def counted[T](key: String, dir: String)(body: => T): T =
    if (!enabled) body
    else {
      val before = Harness.listing(dir)
      val out = body
      val fresh = Harness.listing(dir).filter { case (f, _) => !before.contains(f) }
      count(s"$key.bytes_written", fresh.values.sum.toDouble)
      count(s"$key.files_written", fresh.size.toDouble)
      count(s"$key.partitions_touched", fresh.keys.filter(_.endsWith(".parquet"))
        .map(f => new java.io.File(f).getParent).toSet.size.toDouble)
      out
    }

  /** Waits for every listener event of the run to be delivered. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def appendJson(sb: StringBuilder): Unit = if (enabled) {
    import Json._
    sb ++= ",\"spans\":" + spans.map(s => obj(Seq("id" -> num(s.id), "name" -> str(s.name),
      "parent" -> num(s.parent), "op" -> num(s.op), "start_ms" -> num(s.startMs),
      "end_ms" -> num(s.endMs)))).mkString("[", ",", "]")
    sb ++= ",\"counts\":" + counts.map { case (o, s, k, v) =>
      obj(Seq("op" -> num(o), "span" -> num(s), "key" -> str(k), "value" -> num(v)))
    }.mkString("[", ",", "]")
    sb ++= ",\"jobs\":" + synchronized(jobs.values.toSeq).map(j => obj(Seq(
      "id" -> num(j.id), "span" -> num(j.span), "op" -> num(j.op), "site" -> str(j.site),
      "start_ms" -> num(j.startMs), "end_ms" -> num(j.endMs), "stages" -> num(j.stages),
      "tasks" -> num(j.tasks), "cpu_s" -> num(j.cpuNs / 1e9),
      "shuffle_bytes" -> num((j.shuffleRead + j.shuffleWrite).toDouble),
      "spill_bytes" -> num(j.spill.toDouble), "input_bytes" -> num(j.input.toDouble),
      "output_records" -> num(j.outputRecords.toDouble))))
      .mkString("[", ",", "]")
    sb ++= ",\"phases\":" + phases.synchronized(phases.toSeq).map { case (st, d) =>
      obj(Seq("start_ms" -> num(st), "plan_ms" -> num(d)))
    }.mkString("[", ",", "]")
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Double) {
    var endMs: Double = startMs
  }

  final class Job(val id: Int, val span: Int, val op: Int, val startMs: Double, val site: String) {
    var endMs: Double = startMs
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var outputRecords = 0L
  }
}
