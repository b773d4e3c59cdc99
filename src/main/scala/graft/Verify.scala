package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: restrict to these queries (local iteration)
    val only = args.drop(2).toSet
    // a typo'd name silently dropping a query would make the compare
    // "pass" by absence — fail the run instead (same guard as
    // Bench's SPARK_GRAFT_ONLY)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // coalesce(1) is deliberate: the driver's comparer has only ever
      // read single-file outputs; verify wall time is not graded
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a STALE dir from a previous
        // run (the compare would read it and false-pass the regression)
        deleteRecursively(new java.io.File(s"$outDir/$name"))
      }
      // same between-query hygiene as Bench: operator caches and
      // scratch dirs must not accumulate across 94 queries
      Bench.resetSession(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // provenance stamp in a SEPARATE file: the driver iterates
    // oracle_sql.json entries as (query -> SQL), so a commit key there
    // would be "run" as SQL; a sibling file is inert to both the
    // driver's compare and scripts/check.py (which only reads dirs +
    // oracle_sql.json) while making the dump attributable to the code
    // that produced it
    val meta = Bench.gitHead.map(c => s""""commit": ${q(c)}, """).getOrElse("") +
      s""""sf_dir": ${q(sfDir)}, "queries": ${SparkEntry.queries.size}"""
    Files.writeString(Paths.get(s"$outDir/VERIFY_META.json"), s"{$meta}")
    spark.stop()
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
