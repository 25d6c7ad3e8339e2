package lifebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.LifeBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark task and job totals, summed by a listener the benchmark
  * registers itself: the program is measured from outside. */
final class TaskTotals extends SparkListener {
  val jobs, cpuNs, gcMs, shuffleBytes, inputBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }
  def snapshot: Array[Long] =
    Array(jobs, cpuNs, gcMs, shuffleBytes, inputBytes).map(_.get)
}

/** Counts `clean_corpus` instances in every executed plan (adaptive
  * stages expanded, reused exchanges and cached relations not counted,
  * since they do not evaluate their subtree again). */
final class CleanEvals extends QueryExecutionListener {
  val count = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    count.addAndGet(CleanEvals.in(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    count.addAndGet(CleanEvals.in(qe.executedPlan))
}

object CleanEvals {
  def in(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => in(a.executedPlan)
    case s: QueryStageExec => in(s.plan)
    case c: CommandResultExec => in(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => 0L
    case _ =>
      p.expressions.map(_.collect { case e: graft.expr.CleanCorpusExpr => e }.size.toLong).sum +
        p.children.map(in).sum + p.subqueries.map(in).sum
  }
}

/** Spans around the benchmark's calls into each layer's public function
  * (the build part, eager jobs included) and around the action that
  * materialises that layer's output. Values are kept in memory per
  * operation and summarised when the run ends. */
final class Tracer(spark: SparkSession) {
  val totals = new TaskTotals
  val cleanEvals = new CleanEvals
  spark.sparkContext.addSparkListener(totals)
  spark.listenerManager.register(cleanEvals)

  private val ops = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
  private var cur = mutable.Map.empty[String, Double]

  def beginOp(): Unit = { cur = mutable.Map.empty; ops += cur }
  def discardOp(): Unit = ops -= cur
  def add(key: String, v: Double): Unit = cur(key) = cur.getOrElse(key, 0.0) + v

  /** `clean_corpus` instances in the plans executed so far. */
  def evals(): Long = { LifeBenchBus.drain(spark.sparkContext); cleanEvals.count.get }

  private def snap(): Array[Long] = { LifeBenchBus.drain(spark.sparkContext); totals.snapshot }

  /** `build` calls the layer; `action` materialises its output and
    * returns the layer's output row count. */
  def layer[A](name: String)(build: => A)(action: A => Long): A = {
    val s0 = snap()
    val t0 = System.nanoTime()
    val a = build
    val t1 = System.nanoTime()
    val rows = action(a)
    val t2 = System.nanoTime()
    val s1 = snap()
    val d = s1.zip(s0).map { case (x, y) => x - y }
    add(s"$name.wall_ms", (t2 - t0) / 1e6)
    add(s"$name.build_ms", (t1 - t0) / 1e6)
    add(s"$name.jobs", d(0).toDouble)
    add(s"$name.cpu_ms", d(1) / 1e6)
    add(s"$name.gc_ms", d(2).toDouble)
    add(s"$name.shuffle_bytes", d(3).toDouble)
    add(s"$name.rows_out", rows.toDouble)
    if (name == "sources") add("sources.input_bytes", d(4).toDouble)
    a
  }

  /** Median over the traced operations of every metric in `names`; a
    * metric of a layer the workload never calls reads 0. */
  def summary(names: Seq[String]): Seq[(String, Double)] =
    names.map { n =>
      val xs = ops.flatMap(_.get(n)).toSeq
      n -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
