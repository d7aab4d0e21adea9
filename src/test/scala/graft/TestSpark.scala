package graft

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Divide, Floor, LessThan, Literal, Rand}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.types.DoubleType

/** One shared local session for the whole test run (sessions are
  * expensive; suites must not stop() it). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("4")

  /** Absolute path of a test resource directory/file on disk. */
  def resource(path: String): String =
    new java.io.File(getClass.getClassLoader.getResource(path).toURI).getAbsolutePath

  /** `plan` with an always-true but non-deterministic conjunct added to
    * every join condition. The analyzer rejects such a condition, so
    * rule specs splice it into an analyzed plan and apply the rule
    * directly. */
  def withNondeterministicConjunct(plan: LogicalPlan): LogicalPlan =
    plan.transform { case j: Join =>
      j.copy(condition =
        j.condition.map(And(_, LessThan(Rand(Literal(0L)), Literal(2.0)))))
    }

  /** The one bin width in the optimized plan's bucket expressions
    * (`floor(cast(x as double) / width)`) of a bin-blocking rule. */
  def bucketWidth(df: DataFrame): Double = {
    val ws = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case Floor(Divide(_, Literal(w: Double, DoubleType), _)) => w }))
      .distinct
    assert(ws.size == 1, s"expected one bucket width in the plan, got $ws")
    ws.head
  }

  private val MarkerKey = "graft.test.jobsDuring"

  /** `body`'s value and the number of Spark jobs that start while it
    * runs. The listener bus is asynchronous, so a marker job before
    * and after `body` brackets it: once a marker's start has arrived,
    * every earlier job's has too. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val markers = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(MarkerKey) != null))
          markers.release()
        else jobs.incrementAndGet()
    }
    def marker(): Unit = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(markers.tryAcquire(60, TimeUnit.SECONDS), "marker job never seen")
    }
    sc.addSparkListener(listener)
    try {
      marker()
      jobs.set(0)
      val out = body
      marker()
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
