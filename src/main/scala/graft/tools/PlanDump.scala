package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.OverwriteByExpressionExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the EXECUTED plans of named queries to files — the optimization
  * rounds' plan-evidence capture (plans/rNN/<q>_before.txt /
  * _after.txt). Each query runs through [[graft.Bench.exec]] (the noop
  * sink Bench times), and the file holds `explain("formatted")` of the
  * final adaptive plan of EVERY SQL execution the query ran, in
  * completion order: construction-time stagings, guard counts and
  * probes, CC rounds and driver-finish collects, then the noop sink
  * last. Plans are captured by a `QueryExecutionListener`, so they show
  * query stages, `ReusedExchange` nodes and AQE's runtime rewrites as
  * they ran. The header counts the executions and the Spark jobs the
  * query started, with the jobs that ran outside any SQL execution
  * (schema inference) counted apart. One session for the whole batch
  * with the harness session reset between queries, so
  * construction-eager queries (Matching staging, LSH guards) behave
  * exactly as under Bench.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names @ _*) = args: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session("graft-plandump", cpus)
    Files.createDirectories(Paths.get(outDir))
    // Both listeners sit on the shared listener-bus queue, so a query's
    // job starts are delivered before its noop execution's success.
    val executed = new LinkedBlockingQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.put(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val jobs, jobsOutsideSql = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null))
          jobsOutsideSql.incrementAndGet()
      }
    })
    def isNoopSink(qe: QueryExecution) =
      qe.executedPlan.exists(_.isInstanceOf[OverwriteByExpressionExec])
    names.foreach { name =>
      jobs.set(0); jobsOutsideSql.set(0)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      graft.Bench.exec(df)
      @annotation.tailrec
      def drain(acc: Vector[(String, QueryExecution)]): Vector[(String, QueryExecution)] = {
        val run = Option(executed.poll(60, TimeUnit.SECONDS)).getOrElse(
          sys.error(s"PlanDump: no executed noop-sink plan reported for $name"))
        if (isNoopSink(run._2)) acc :+ run else drain(acc :+ run)
      }
      val runs = drain(Vector.empty)
      val header = s"== PlanDump $name: ${runs.size} SQL executions, ${jobs.get} jobs " +
        s"(${jobsOutsideSql.get} outside any SQL execution) ==\n"
      val body = runs.zipWithIndex.map { case ((func, qe), i) =>
        s"\n== execution ${i + 1}/${runs.size}: $func ==\n${qe.explainString(FormattedMode)}"
      }
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        (header + body.mkString).getBytes(StandardCharsets.UTF_8))
      println(s"PLANDUMP wrote $name ($suffix): ${runs.size} executions, ${jobs.get} jobs")
      graft.Bench.resetSession(spark)
    }
    spark.stop()
  }
}
