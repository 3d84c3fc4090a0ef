package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop operation on a batch DataFrame: the call that builds it,
  * Catalyst planning (forced through `queryExecution.executedPlan`), then
  * execution. Caches are cleared first, jobs run under a job group named
  * after the operation, and a watchdog cancels the group on timeout.
  */
object Ops {
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog")
    t.setDaemon(true)
    t
  }

  def schedule(seconds: Long)(body: => Unit): java.util.concurrent.ScheduledFuture[_] =
    watchdog.schedule(new Runnable { def run(): Unit = body }, seconds, TimeUnit.SECONDS)

  /** @param callIsPlanning the call only builds the DataFrame (Catalyst
    *        analysis), so the `plan` span starts with it; otherwise the call
    *        runs jobs of its own and gets a `call` span. */
  def run[T](spark: SparkSession, phase: Phase, workload: String, opId: String, name: String,
             round: Int, records: Long, callIsPlanning: Boolean)
            (call: => DataFrame)(exec: DataFrame => T): Option[(DataFrame, T)] = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(opId, name, interruptOnCancel = true)
    val timeout = schedule(Main.OpTimeoutS)(sc.cancelJobGroup(opId))
    val t0 = Clock.nowUs()
    try {
      val df = call
      val t1 = Clock.nowUs()
      df.queryExecution.executedPlan
      val t2 = Clock.nowUs()
      val out = exec(df)
      val t3 = Clock.nowUs()
      phase.add(Op(opId, name, round, t0, t3, ok = true, records))
      phase.addWall(round, t3 - t0)
      phase.sample("plan.ms", ((if (callIsPlanning) t2 - t0 else t2 - t1) / 1e3))
      phase.tracer.foreach { tr =>
        val op = tr.spans.add(0, s"$workload.op", opId, t0, t3)
        if (callIsPlanning) tr.spans.add(op, "plan", opId, t0, t2)
        else {
          tr.spans.add(op, "call", opId, t0, t1)
          tr.spans.add(op, "plan", opId, t1, t2)
        }
        tr.spans.add(op, "execute", opId, t2, t3)
      }
      Some((df, out))
    } catch {
      case NonFatal(e) =>
        val t = Clock.nowUs()
        phase.add(Op(opId, name, round, t0, t, ok = false, records))
        phase.addWall(round, t - t0)
        phase.fail(s"$opId ($name) failed: $e")
        None
    } finally {
      timeout.cancel(false)
      sc.clearJobGroup()
    }
  }
}
