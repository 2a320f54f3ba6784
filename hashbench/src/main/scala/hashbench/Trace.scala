package hashbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed interval. `parent` is the span that caused it (0 = none);
  * times are epoch milliseconds, so listener events (which Spark stamps
  * with the wall clock) and benchmark spans share one axis.
  */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double]) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store; written out once, at the end of a run. */
final class Tracer {
  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]

  def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Seq[Span] = spans.synchronized { spans.toList }

  /** Runs `body` inside a new span; `body` gets the span's id. */
  def span[A](name: String, parent: Long = 0L)(body: Long => A): (A, Span) = {
    val id = newId()
    val start = nowMs
    val a = body(id)
    val s = Span(id, parent, name, start, nowMs, Map.empty)
    add(s)
    (a, s)
  }

  def children(parent: Long): Seq[Span] = all.filter(_.parent == parent)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      Trace.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Adds job, stage and task spans under the benchmark span named by the
  * job's `hashbench.span` local property. Jobs without it are ignored.
  */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobParent = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Start of the application's first Spark job, epoch ms (0 = none yet). */
  @volatile var firstJobMs: Long = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (firstJobMs == 0L) firstJobMs = e.time
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .foreach { parent =>
        jobSpan.put(e.jobId, tracer.newId())
        jobParent.put(e.jobId, parent.toLong)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach { st =>
          stageJob.put(st, e.jobId)
          stageSpan.putIfAbsent(st, tracer.newId())
        }
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { id =>
      tracer.add(Span(id, jobParent.get(e.jobId), "spark.job",
        jobStart.get(e.jobId).toDouble, e.time.toDouble,
        Map("job_id" -> e.jobId.toDouble)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageSpan.get(si.stageId)).foreach { id =>
      val job = stageJob.get(si.stageId)
      tracer.add(Span(id, jobSpan.get(job), "spark.stage",
        si.submissionTime.getOrElse(0L).toDouble,
        si.completionTime.getOrElse(0L).toDouble,
        Map("stage_id" -> si.stageId.toDouble, "tasks" -> si.numTasks.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { parent =>
      val shuffle = Option(e.taskMetrics)
        .map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0)
      tracer.add(Span(tracer.newId(), parent, "spark.task",
        e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
        Map("shuffle_write_bytes" -> shuffle)))
    }
}

object SpanListener {
  val Key = "hashbench.span"
}

object Trace {
  /** One JSON object, for the line protocol with run.py and the span file. */
  def json(fields: Map[String, Any]): String =
    Serialization.write(fields)(DefaultFormats)
}
