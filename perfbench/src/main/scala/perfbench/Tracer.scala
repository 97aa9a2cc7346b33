package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DabDataset

/** Spans around the benchmark's calls into the engine's modules.
  *
  * Disabled, every method is the identity, so an untraced pass runs the
  * plain user flow. Enabled, a span records its name, start, end, parent
  * and run id, and sets a Spark job group naming the span, so the
  * [[Census]] can attribute each job to the innermost span that started
  * it. Spark is lazy: a span over a lazy call ends on [[force]] (persist
  * plus count) so the layer's work lands inside its own span. Spans stay
  * in memory until the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val persisted = ArrayBuffer.empty[DataFrame]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), runId,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      setGroup(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption.fold(spark.sparkContext.clearJobGroup())(setGroup)
      }
    }

  private def setGroup(s: Span): Unit =
    // no description: a SQL query then records its own call site as one
    spark.sparkContext.setJobGroup(groupId(s.id), null, interruptOnCancel = false)

  def groupId(spanId: Int): String = s"$runId/$spanId"

  /** Traced: persist + count, so the span ends with its output computed. */
  def force(df: DataFrame): DataFrame =
    if (!enabled) df
    else { df.persist(); df.count(); persisted += df; df }

  def force(ds: DabDataset): DabDataset =
    if (!enabled) ds else { force(ds.df); ds }

  /** Traced: count a frame the engine already materializes itself. */
  def touch(df: DataFrame): DataFrame = { if (enabled) df.count(); df }

  /** Free what [[force]] cached. */
  def release(): Unit = { persisted.foreach(_.unpersist(blocking = true)); persisted.clear() }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, runId: String,
      startNs: Long, startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Span duration minus the part of it its direct children cover. */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.seconds).sum
      s.id -> math.max(0.0, s.seconds - covered)
    }.toMap
  }

  /** Ids of `root` and all spans below it. */
  def subtree(all: Seq[Span], root: Int): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(k => go(k.id))
    go(root)
  }
}
