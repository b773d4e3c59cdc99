package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** The engine's one parquet write→read-back — the repo's alternative
  * to persist() for expensive intermediate lineages
  * ([[Dedup.connectedComponents]]' per-round state, Matching's join
  * sides, the LSH cascade, the dedup stage's prepared frame, the
  * materialized lake stages of [[graft.pipeline.JobPipeline]]).
  *
  * Why parquet instead of cache: a staged frame is a clean leaf with
  * real file statistics (join planning sees true sizes, not compounded
  * estimates), it costs nothing to "fill" on re-read, and — decisive
  * for long sessions and benchmarks — it leaves NOTHING registered in
  * the CacheManager to evict, spill, or remember to release. The write
  * is the ONE eager job at operator-construction time: the read-back
  * carries the frame's own schema, so Spark runs no schema-inference
  * job over the footers (an inferred read yields the same schema —
  * every field nullable, partition columns last — OperatorsSpec pins
  * it). Callers for whom plan laziness matters should keep persist().
  *
  * Dirs are FS-qualified so a cluster deployment lands them on the
  * checkpoint filesystem (set `spark.sparkContext.setCheckpointDir` to
  * shared storage), not on a driver-local java.io.tmpdir the executors
  * can't read. Backing files live until JVM exit (returned plans read
  * them); one process-wide shutdown hook deletes every registered dir
  * through its owning Hadoop FileSystem, and harnesses that KNOW all
  * staged plans are dead (Bench, between queries) can reclaim disk
  * eagerly with [[releaseAll]].
  */
object Scratch {

  /** Create and register a fresh scratch dir under the checkpoint dir
    * (or java.io.tmpdir); returns its qualified path. */
  def newDir(spark: SparkSession, prefix: String): Path = {
    val base = spark.sparkContext.getCheckpointDir
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = new Path(base, s"$prefix-${java.util.UUID.randomUUID()}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val q = fs.makeQualified(p)
    register(fs, q)
    q
  }

  /** Materialize `df` to a fresh scratch dir and return the
    * parquet-backed read — one eager write job now, stat-bearing leaf
    * forever after. Reads no footers: a staging at scale may hold
    * thousands of part files. */
  def stage(df: DataFrame, prefix: String): DataFrame =
    writeBack(df, newDir(df.sparkSession, prefix).toString)(
      _.option("compression", Codec))

  /** [[stage]], plus the staged table's EXACT row count read
    * driver-side from the just-written parquet footers — zero Spark
    * jobs beyond the write that runs anyway. The count feeds the scale
    * guards' cross-product short-circuit (round-16 verdict item 3):
    * N_a·N_b bounds any blocked-join pair volume from metadata alone,
    * so gate-scale callers skip the guard's measurement job entirely. */
  def stageCounted(df: DataFrame, prefix: String): (DataFrame, Long) = {
    val back = stage(df, prefix)
    (back, footerCount(back))
  }

  /** Write `df` as parquet to `dir` (overwriting, laid out by
    * `layout`) and read it back by the frame's own schema — the body
    * of every staging, and the lake stages' write→read-back. */
  private[graft] def writeBack(df: DataFrame, dir: String)(
      layout: DataFrameWriter[Row] => DataFrameWriter[Row]): DataFrame = {
    layout(df.write.mode("overwrite")).parquet(dir)
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  /** Exact row count of a parquet read-back, summed driver-side over
    * the footers of the files its scan reads — no Spark job. The file
    * list is the read's own index (listed once, at read time, recursing
    * into partition dirs and skipping `_`/`.` entries exactly as the
    * scan does), so a partitioned layout counts exactly: no leaf is
    * missed, no commit marker or checksum is opened. */
  private[graft] def footerCount(back: DataFrame): Long = {
    val conf = back.sparkSession.sparkContext.hadoopConfiguration
    back.inputFiles.iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(new java.net.URI(f)), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Codec for scratch writes. lz4 lost to zstd on the staging-heavy
    * q49/q50 ABAB at sf0.1 (q50 4.35 vs 3.88 s, q49 6.56 vs 6.10 s):
    * zstd's smaller files win the read-back (OPTIMIZATION_r17.md §7). */
  private val Codec = "zstd"

  /** Delete every registered scratch dir NOW. Only sound when every
    * plan built over staged frames has been discarded (a later action
    * on such a plan would fail on the missing files) — i.e. harness
    * boundaries: Bench between queries, test teardown. */
  def releaseAll(): Unit = {
    var e = dirs.poll()
    while (e != null) {
      // JVM shutdown hooks run in undefined order: Hadoop may have
      // closed the cached FileSystem already ("Filesystem closed"), so
      // fall back to plain java.io deletion for local paths rather than
      // leaking multi-GB dirs across crashed runs
      try e._1.delete(e._2, true)
      catch { case _: Throwable =>
        if (e._2.toUri.getScheme == "file")
          deleteLocal(new java.io.File(e._2.toUri.getPath))
      }
      e = dirs.poll()
    }
  }

  private def deleteLocal(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteLocal))
    f.delete()
  }

  /** One process-wide shutdown hook deleting every scratch dir via its
    * owning Hadoop FileSystem — repeated calls must not stack one hook
    * (and one leaked dir registration) each. */
  private val dirs =
    new java.util.concurrent.ConcurrentLinkedQueue[(FileSystem, Path)]
  private lazy val hook: Unit = {
    sys.addShutdownHook(releaseAll())
    ()
  }
  private def register(fs: FileSystem, p: Path): Unit = {
    hook
    dirs.add((fs, p))
  }
}
