package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, DataFrameReader, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The one reader of at-rest files and tables that remembers what it
  * read: the parquet schemas `Catalog` and the index probes would
  * otherwise infer with a Spark job per read, and the decoded rows of
  * small index-metadata tables a probe would otherwise `collect` before
  * it scores anything. What a session remembers of a path is keyed by
  * the path's file listing — (name, size, mtime) of every file at or
  * under it — so a rewritten file or directory is seen on the next
  * lookup; a file restored with the SAME size and mtime (`cp -p`,
  * `rsync -t`) would not be. Entries are metadata only, never a
  * DataFrame: nothing here references the session, so a dropped
  * session's entries are collected with it, and every query still
  * scans the files. */
object AtRest {

  /** Sorted (relative name, size, mtime in ns) of the files under a path. */
  type Listing = Seq[(String, Long, Long)]

  /** What a session remembers of one path under one kind of read: the
    * listing it was read at and what was read. */
  private final case class Known(listing: Listing, value: AnyRef)

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Known]]()

  private def known(spark: SparkSession): ConcurrentHashMap[String, Known] =
    sessions.synchronized {
      sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Known]())
    }

  private def keyOf(path: String): Path = Paths.get(path).toAbsolutePath.normalize

  /** What this session recorded as `kind` for `p` at exactly `listing`. */
  private def recalled[A <: AnyRef](spark: SparkSession, kind: String, p: Path,
                                    listing: Option[Listing]): Option[A] =
    Option(known(spark).get(s"$kind:$p")).filter(k => listing.contains(k.listing))
      .map(_.value.asInstanceOf[A])

  /** Record `value` as `kind` for `p` at `listing`; an unknown listing
    * (the tree changed under the walk) records nothing. */
  private def record(spark: SparkSession, kind: String, p: Path,
                     listing: Option[Listing], value: AnyRef): Unit =
    listing.foreach(l => known(spark).put(s"$kind:$p", Known(l, value)))

  /** The files at `path` read through `reader` in `format`, the `extra`
    * facts taken from them alongside the schema.
    * Schema inference (a Spark job for parquet, csv and json) and
    * `extra` run once per session, path and listing: a hit hands the
    * reader the recorded schema, so it starts no job and reads no
    * footer. */
  private[graft] def open[A](spark: SparkSession, path: String, format: String,
                             reader: DataFrameReader)(extra: => A): (DataFrame, A) = {
    val p = keyOf(path)
    val listing = listingOf(p)
    recalled[(StructType, A)](spark, format, p, listing) match {
      case Some((schema, a)) => (reader.schema(schema).load(path), a)
      case None =>
        val df = reader.load(path)
        val a = extra
        record(spark, format, p, listing, (df.schema, a))
        (df, a)
    }
  }

  /** The parquet files at `path` as a DataFrame, with no inference job
    * once this session has read them at their current listing. */
  def frame(spark: SparkSession, path: String): DataFrame =
    open(spark, path, "frame", spark.read.format("parquet"))(())._1

  /** `decode` of the rows of the small metadata table `table` (an index's
    * parameters, a view's cursor). The rows are read once per session,
    * table location and listing, and only kept when the listing after
    * the read equals the one before it; a failed read keeps nothing. A
    * missing table fails as `spark.table` does; a temp view or a table
    * this reader cannot list is read afresh on every call. */
  def tableMeta[A](spark: SparkSession, table: String)(decode: Seq[Row] => A): A =
    decode(catalogTable(spark, table).flatMap(dirOf) match {
      case Some(p) => rows(spark, p)(spark.table(table))
      case None => spark.table(table).collect().toSeq
    })

  /** [[tableMeta]] for the parquet files at `path`. */
  def pathMeta[A](spark: SparkSession, path: String)(decode: Seq[Row] => A): A =
    decode(rows(spark, keyOf(path))(spark.read.parquet(path)))

  private def rows(spark: SparkSession, p: Path)(df: => DataFrame): Seq[Row] = {
    val before = listingOf(p)
    recalled[Seq[Row]](spark, "meta", p, before).getOrElse {
      val read = df.collect().toSeq
      if (before == listingOf(p)) record(spark, "meta", p, before, read)
      read
    }
  }

  /** Catalog table `table`, handed back as `coalesce(1)` when it reads
    * as one split ([[readsOneSplit]]): one task reads it, and joins,
    * aggregates and sorts over it plan no exchange. */
  def table(spark: SparkSession, table: String): DataFrame = {
    val df = spark.table(table)
    if (readsOneSplit(df)) df.coalesce(1) else df
  }

  /** The session catalog's entry for `table`; None for a temp view or a
    * missing table. */
  private def catalogTable(spark: SparkSession, table: String): Option[CatalogTable] = {
    val cat = spark.sessionState.catalog
    val id = TableIdentifier(table)
    if (cat.getTempView(table).isDefined || !cat.tableExists(id)) None
    else Some(cat.getTableMetadata(id))
  }

  /** A catalog table's directory; None off the local file system. */
  private def dirOf(t: CatalogTable): Option[Path] =
    scala.util.Try(Paths.get(t.location).toAbsolutePath.normalize).toOption

  /** Whether `df` reads as one split, so one task can read it whole:
    * every leaf of its analyzed plan is either under a one-partition
    * repartition (the `coalesce(1)` that [[table]] and `Catalog` hand
    * out) or a batch file relation whose files, as its already-listed
    * file index holds them, fit one split ([[oneSplit]]). A local, RDD,
    * streaming or other non-file source does not read as one split. */
  def readsOneSplit(df: DataFrame): Boolean = {
    def leaves(plan: LogicalPlan): Boolean = plan match {
      case r: Repartition if r.numPartitions == 1 => true
      case r: LogicalRelation => (r.relation, r.isStreaming) match {
        case (fs: HadoopFsRelation, false) => fs.location match {
          case files: PartitioningAwareFileIndex => oneSplit(df.sparkSession,
            files.allFiles().map(_.getLen), fs.bucketSpec.isDefined)
          case _ => false
        }
        case _ => false
      }
      case p => p.children.nonEmpty && p.children.forall(leaves)
    }
    leaves(df.queryExecution.analyzed)
  }

  /** Whether a scan of files of these sizes is one partition. A plain
    * scan is one exactly when Spark's own split rule reads it as one: its
    * split size (`FilePartition.maxSplitBytes`, from this session's
    * `spark.sql.files.*` confs and parallelism), then its next-fit
    * packing, which charges each file `openCostInBytes` and starts a new
    * partition once the next file does not fit. Empty files make no
    * split. A `spark.sql.files.maxPartitionNum` merge is not modelled; it
    * only makes this rule decline a scan Spark would read as one split.
    * Spark never packs the files of a bucketed table: it starts one task
    * per bucket however small, so such a table is one partition when the
    * total bytes of its files fit one split. A scan that is one partition
    * is handed back as `coalesce(1)`: still one task, but it reports a
    * single partition, so aggregates, sorts and shuffle joins over it
    * plan no exchange. */
  private def oneSplit(spark: SparkSession, sizes: Seq[Long], bucketed: Boolean): Boolean = {
    val openCost = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.openCostInBytes"))
    val maxSplit = FilePartition.maxSplitBytes(spark, sizes.map(_ + openCost).sum)
    val files = sizes.filter(_ > 0)
    if (bucketed) files.sum <= maxSplit
    else files.sum + (files.size - 1) * openCost <= maxSplit
  }

  /** Sorted (relative name, size, mtime in ns) of every regular file at
    * or under `p`; None when the tree changed under the walk (then the
    * lookup is served, but not cached). */
  private def listingOf(p: Path): Option[Listing] =
    try {
      val walk = Files.walk(p)
      try Some(walk.iterator.asScala.flatMap { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        if (a.isRegularFile)
          Some((p.relativize(f).toString, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS)))
        else None
      }.toVector.sorted)
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }
}
