package graft.sources

import org.apache.spark.sql.DataFrame

/** Pluggable warehouse sink. The reference writes BigQuery tables
  * (date-partitioned + clustered, load_to_bigquery.py:257-307,
  * create_tables.sql:91-92); offline the same logical layout is
  * partitioned parquet with sortWithinPartitions emulating CLUSTER BY.
  * Swapping in a BigQuery (or Delta/Iceberg) writer is one new
  * implementation of this trait — callers never change.
  */
trait WarehouseWriter {
  def write(df: DataFrame, table: String, partitionCol: Option[String],
      clusterCols: Seq[String]): Unit
}

/** Parquet warehouse: `root/<table>/` partitioned by the date column,
  * rows sorted within partitions by the cluster columns (so min/max
  * row-group stats give BigQuery-cluster-like data skipping). */
class ParquetWarehouse(root: String) extends WarehouseWriter {
  override def write(df: DataFrame, table: String, partitionCol: Option[String],
      clusterCols: Seq[String]): Unit = {
    val sorted =
      if (clusterCols.nonEmpty)
        df.sortWithinPartitions(clusterCols.head, clusterCols.tail: _*)
      else df
    val writer = sorted.write.mode("overwrite")
    partitionCol.fold(writer)(c => writer.partitionBy(c))
      .parquet(s"$root/$table")
  }
}

/** Bucketed warehouse tables: the co-located-join layout. Writing fact
  * and dimension-bridge tables bucketed (CLUSTERED BY ... INTO n
  * BUCKETS via the session catalog) pre-shuffles them once at WRITE
  * time; every subsequent equi-join or aggregation on the bucket key
  * reads co-located buckets and plans with NO exchange — at 100 TB
  * that is the single biggest repeated-shuffle eliminator for a star
  * schema queried daily. */
object BucketedWarehouse {
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
