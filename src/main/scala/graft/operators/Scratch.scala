package graft.operators

import org.apache.spark.sql.DataFrame

/** Shared scratch-parquet staging — the repo's alternative to persist()
  * for expensive intermediate lineages (first used by
  * [[Dedup.connectedComponents]]'s per-round materialization, now also
  * the matching profile build).
  *
  * Why parquet instead of cache: a staged frame is a clean leaf with
  * real file statistics (join planning sees true sizes, not compounded
  * estimates), it costs nothing to "fill" on re-read, and — decisive
  * for long sessions and benchmarks — it leaves NOTHING registered in
  * the CacheManager to evict, spill, or remember to release. The write
  * is one eager job at operator-construction time; callers for whom
  * plan laziness matters should keep persist().
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
    * (or java.io.tmpdir). Returns the owning FileSystem and the
    * qualified path. */
  def newDir(spark: org.apache.spark.sql.SparkSession, prefix: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val base = spark.sparkContext.getCheckpointDir
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = new org.apache.hadoop.fs.Path(
      base, s"$prefix-${java.util.UUID.randomUUID()}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    val q = fs.makeQualified(p)
    register(fs, q)
    (fs, q)
  }

  /** Materialize `df` to a fresh scratch dir and return the
    * parquet-backed read — one eager write job now, stat-bearing leaf
    * forever after. */
  def stage(df: DataFrame, prefix: String): DataFrame = {
    val spark = df.sparkSession
    val (_, dir) = newDir(spark, prefix)
    df.write.option("compression", Codec).mode("overwrite").parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  /** [[stage]], plus the staged table's EXACT row count read
    * driver-side from the just-written parquet footers — zero Spark
    * jobs beyond the write that runs anyway. The count feeds the scale
    * guards' cross-product short-circuit (round-16 verdict item 3):
    * N_a·N_b bounds any blocked-join pair volume from metadata alone,
    * so gate-scale callers skip the guard's measurement job entirely. */
  def stageCounted(df: DataFrame, prefix: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val (fs, dir) = newDir(spark, prefix)
    df.write.option("compression", Codec).mode("overwrite").parquet(dir.toString)
    val n = footerCount(fs, dir, spark.sparkContext.hadoopConfiguration)
    (spark.read.parquet(dir.toString), n)
  }

  /** Exact row count of a FLAT staged parquet dir from its footers.
    * The count feeds the scale guards' melt short-circuit as an upper
    * bound, so an undercount weakens the guard: if the dir ever grows
    * subdirectories (someone adds partitionBy to a stage write), fail
    * LOUDLY instead of silently skipping the nested leaf files
    * (round-16 ADVICE). */
  private[operators] def footerCount(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val entries = fs.listStatus(dir)
    val nested = entries.filter(_.isDirectory)
    require(nested.isEmpty,
      s"Scratch.footerCount: staged dir $dir contains subdirectories " +
        s"(${nested.take(3).map(_.getPath.getName).mkString(", ")}) — the " +
        "non-recursive footer count would UNDERCOUNT a partitioned layout " +
        "and feed a too-small bound into the scale guards' cross-product " +
        "short-circuit. Stage flat, or teach this count to recurse first.")
    entries.iterator
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Codec for scratch writes. lz4 lost to zstd on the staging-heavy
    * q49/q50 ABAB at sf0.1 (q50 4.35 vs 3.88 s, q49 6.56 vs 6.10 s):
    * zstd's smaller files win the read-back (OPTIMIZATION_r17.md §7). */
  private[operators] val Codec = "zstd"

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
    new java.util.concurrent.ConcurrentLinkedQueue[
      (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]
  private lazy val hook: Unit = {
    sys.addShutdownHook(releaseAll())
    ()
  }
  private def register(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    hook
    dirs.add((fs, p))
  }
}
