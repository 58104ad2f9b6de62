package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed at-rest layout for co-located joins (SURVEY §4.3).
  *
  * At 100 TB the dominant join cost is the shuffle of the fact table.
  * Writing both sides bucketed (+ sorted) on the join key lets Spark
  * plan a SortMergeJoin with NO exchange on either side — the join is
  * pre-partitioned at rest, so a daily fact-dim or fact-fact join reads
  * co-located buckets instead of reshuffling the corpus every query.
  * Spark's bucketing ties to the session catalog (`saveAsTable`); on a
  * cluster the same calls target the shared metastore.
  */
object BucketedLayout {

  /** Drop a managed table AND its surviving location. A fresh session
    * can inherit a warehouse dir from a prior run: the managed-table
    * LOCATION outlives the in-memory catalog, and saveAsTable refuses it
    * (LOCATION_ALREADY_EXISTS). */
  private[graft] def clearStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    try loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    catch { case _: java.io.IOException => () }
  }

  /** Write a small unbucketed catalog table (index metadata and the
    * like), clearing any stale managed location first. */
  def writePlain(df: DataFrame, table: String): Unit = {
    clearStale(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Write `df` bucketed and sorted on `keys` as catalog table `table`. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit = {
    clearStale(df.sparkSession, table)
    align(df, keys, buckets).write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Pre-shuffle rows onto their bucket before a bucketed write.
    * `repartition(n, cols)` and `bucketBy(n, cols)` use the SAME
    * Murmur3-mod placement, so after this each write task holds exactly
    * one bucket and emits ONE file — without it every task writes a
    * sliver of every bucket it sees (tasks × buckets small files; 64
    * files for a 2 k-row index at the fixture, and a metadata storm at
    * real scale). One narrow-payload shuffle buys a clean at-rest
    * layout. */
  private def align(df: DataFrame, keys: Seq[String], buckets: Int): DataFrame =
    df.repartition(buckets, keys.map(df.col): _*)

  /** Bucket count of an existing catalog table's bucket spec, if any. */
  def bucketCountOf(spark: SparkSession, table: String): Option[Int] =
    if (!spark.catalog.tableExists(table)) None
    else spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)

  /** Append to an existing bucketed table. The write honors the TABLE'S
    * OWN bucket spec when one exists (`buckets` is only the fallback for
    * a first write) — an index built with a corpus-sized bucket count
    * must never be appended to under a caller's different default, which
    * saveAsTable would reject loudly at best. The incremental-ingest
    * path: new rows land in the right buckets, so joins against the
    * table stay exchange-free as it grows. */
  def appendBucketed(df: DataFrame, table: String, keys: Seq[String],
                     buckets: Int): Unit = {
    val n = bucketCountOf(df.sparkSession, table).getOrElse(buckets)
    align(df, keys, n).write.mode("append").format("parquet")
      .bucketBy(n, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Run independent Spark actions concurrently from the driver (guide
    * §2.6 overlap-independent-jobs): an index build's table writes are
    * independent given their shared persisted inputs, but sequential
    * driver calls leave the cluster idle through each write's task tail
    * and single-threaded commit. 2–3 in flight back-fills those tails
    * (FIFO scheduling gives the earlier job priority, later ones use
    * the leftover slots — exactly the back-fill behaviour wanted).
    * Concurrent first-computation of a shared cached frame is safe:
    * the block manager's per-block loading locks make one task compute
    * while the rest wait. Every task is awaited before returning and
    * the first failure is rethrown, so no half-registered table
    * escapes silently. */
  def concurrently[A](tasks: (() => A)*): Seq[A] =
    if (tasks.sizeIs <= 1) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(3, tasks.size))
      try {
        val futs = tasks.map(t => pool.submit(
          new java.util.concurrent.Callable[A] { def call(): A = t() }))
        val settled = futs.map(f =>
          try Right(f.get())
          catch { case e: java.util.concurrent.ExecutionException =>
            Left(e.getCause) })
        settled.collectFirst { case Left(e) => e }.foreach(throw _)
        settled.collect { case Right(a) => a }
      } finally pool.shutdown()
    }
}
