package graft.ops

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** The one size gate in front of the driver twins: exact copies of an
  * operator that collect a small input and compute on the driver, where
  * Spark's per-job scheduling outweighs the compute (Chukonu, VLDB
  * 2021). A twin checks [[fits]] against its size constant (declared
  * beside it, with the reason for its value) and returns `None` — "run
  * the distributed path" — when the input is over it. Twins keep their
  * own NULL rules; the gate only counts rows. */
object LocalGate {

  /** The twin families, by the names [[declining]] switches off. */
  private val twins = Set("graph", "spearman", "markov", "prefixSum", "pagerank")

  private val declined = ThreadLocal.withInitial[Set[String]](() => Set.empty)

  /** True iff `df` holds at most `max` rows. One Spark job over the
    * column-free projection of `df` in which each task counts at most
    * `max + 1` rows; the driver cancels the job once the running total
    * passes `max`, so a declined probe stops early instead of scanning
    * the whole input. (`limit(max + 1).count()` is no bound: it plans
    * LocalLimit → Exchange SinglePartition → GlobalLimit and moves up to
    * `max + 1` rows of every partition into one task.) */
  def fits(df: DataFrame, max: Long, twin: String): Boolean = {
    require(twins(twin), s"LocalGate: unknown twin '$twin'")
    require(max >= 0 && max < Long.MaxValue, s"LocalGate: bad max $max")
    if (declined.get()(twin)) return false
    val rdd = df.select().queryExecution.toRdd
    val cap = max + 1
    val total = new AtomicLong
    val over = Promise[Unit]()
    val job = df.sparkSession.sparkContext.submitJob(rdd,
      (rows: Iterator[InternalRow]) => {
        var n = 0L
        while (n < cap && rows.hasNext) { rows.next(); n += 1 }
        n
      },
      0 until rdd.getNumPartitions,
      (_: Int, n: Long) => if (total.addAndGet(n) > max) over.trySuccess(()),
      ())
    // every task result is handled before the job completes, so a job
    // that completes with `over` unset counted at most `max` rows
    Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
      Duration.Inf)
    if (over.isCompleted) {
      job.cancel()
      Await.ready(job, Duration.Inf)
      false
    } else {
      Await.result(job, Duration.Inf) // rethrows a failed probe
      true
    }
  }

  /** Run `body` with the named twins declining on this thread, so a
    * spec can pin one operator's distributed path while the other twins
    * keep their gates. */
  private[graft] def declining[T](names: String*)(body: => T): T = {
    names.foreach(t => require(twins(t), s"LocalGate: unknown twin '$t'"))
    val prev = declined.get()
    declined.set(prev ++ names)
    try body
    finally declined.set(prev)
  }
}
