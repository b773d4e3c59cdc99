package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.OverwriteByExpressionExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the EXECUTED plan of named queries to files — the optimization
  * rounds' plan-evidence capture (plans/rNN/<q>_before.txt /
  * _after.txt). Each query runs through [[graft.Bench.exec]] (the noop
  * sink Bench times), and the file holds `explain("formatted")` of that
  * execution's final adaptive plan, captured by a
  * `QueryExecutionListener`: query stages, `ReusedExchange` nodes and
  * AQE's runtime rewrites as they ran. A subtree AQE reuses therefore
  * prints once, where the pre-execution plan text repeated it under
  * every consumer and overstated the exchanges and aggregates that run.
  * One session for the whole batch with the harness session reset
  * between queries, so construction-eager queries (Matching staging,
  * LSH guards) behave exactly as under Bench.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names @ _*) = args: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session("graft-plandump", cpus)
    Files.createDirectories(Paths.get(outDir))
    // every successful action reports here, construction-time staging
    // writes included; only the noop-sink write is Bench.exec's
    val executed = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.exists(_.isInstanceOf[OverwriteByExpressionExec])) executed.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      graft.Bench.exec(df)
      val qe = Option(executed.poll(60, TimeUnit.SECONDS)).getOrElse(
        sys.error(s"PlanDump: no executed plan reported for $name"))
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        qe.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
      println(s"PLANDUMP wrote $name ($suffix)")
      graft.Bench.resetSession(spark)
    }
    spark.stop()
  }
}
