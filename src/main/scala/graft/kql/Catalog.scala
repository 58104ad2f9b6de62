package graft.kql

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Table-name → DataFrame resolution over a directory of parquet files
  * (the driver fixture layout, TESTDATA.md). At cluster scale the same
  * interface fronts a real metastore; here each table is one parquet
  * path so Catalyst gets full pushdown/pruning on the scan.
  */
final class Catalog(spark: SparkSession, dir: String,
                    extra: Map[String, DataFrame] = Map.empty) {
  private val cache = scala.collection.mutable.Map[String, DataFrame]()

  def table(name: String): DataFrame =
    extra.getOrElse(name, cache.getOrElseUpdate(name, load(name)))

  /** This catalog's database name — the fixture directory's basename
    * (a metastore supplies the real name at cluster scale). */
  def defaultDatabase: String = new java.io.File(dir).getName

  private val subCatalogs = scala.collection.mutable.Map[String, Catalog]()

  /** `database('db').T` resolution: the default database resolves here;
    * any sibling SUBDIRECTORY of the fixture dir acts as an attached
    * database; anything else fails loudly (silently reading local data
    * for a foreign database would be a wrong answer, not a fallback).
    * The `cluster(...)` qualifier names the current cluster by
    * definition in this single-cluster engine — any name is accepted
    * (validating remote cluster names is a connectivity concern, not a
    * planning one). */
  def tableIn(db: String, name: String): DataFrame =
    if (db == defaultDatabase) table(name)
    // the db name becomes a single path SEGMENT — reject separators
    // and dot-runs so database('../x') cannot escape the fixture dir
    else if (db.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*") &&
        !db.contains("..") &&
        java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$dir/$db")))
      subCatalogs.getOrElseUpdate(db, new Catalog(spark, s"$dir/$db"))
        .table(name)
    else throw new IllegalArgumentException(
      s"unknown database '$db' (this catalog is '$defaultDatabase'; " +
        "attached databases are subdirectories of its fixture dir)")

  /** Parquet is the primary at-rest format; ORC/CSV/JSON fall back by
    * file extension (ADX ingest formats, SURVEY §2.1; ORC via Spark's
    * built-in vectorized reader — same pushdown/pruning class as
    * parquet); raw text (ADX txt ingest) is one string column `line` per
    * line — the natural front for line-oriented corpora (WARC/WET dumps,
    * log shards) feeding the line ops. Local-FS existence check — a
    * metastore fronts this on a real cluster. */
  private def load(name: String): DataFrame =
    Catalog.formats.map(ext => ext -> s"$dir/$name.$ext")
      .find { case (_, p) => Files.exists(Paths.get(p)) }
      .map { case (ext, p) => Catalog.resolve(spark, ext, p) }
      .getOrElse(spark.read.parquet(s"$dir/$name.parquet")) // throws PATH_NOT_FOUND

  def withTable(name: String, df: DataFrame): Catalog =
    new Catalog(spark, dir, extra + (name -> df))
}

object Catalog {
  def apply(spark: SparkSession, dir: String): Catalog = new Catalog(spark, dir)

  /** Table file extensions, in lookup order. */
  private val formats = Seq("parquet", "orc", "csv", "json", "txt")

  private def reader(spark: SparkSession, ext: String): DataFrameReader = ext match {
    case "csv" => spark.read.option("header", "true").option("inferSchema", "true").format("csv")
    case "txt" => spark.read.format("text")
    case f => spark.read.format(f)
  }

  /** What a session remembers of one table path: the listing it was
    * resolved at — (name, size, mtime) of the file, or of every file
    * under a directory table — the source schema Spark inferred from it,
    * and its TIMESTAMP(NANOS) columns. Metadata only, never a DataFrame:
    * nothing here references the session, so a dropped session's entries
    * are collected with it, and every query still scans the files. */
  private final case class Meta(listing: Seq[(String, Long, Long)],
                                schema: StructType, nanosCols: Set[String])

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Meta]]()

  private def metas(spark: SparkSession): ConcurrentHashMap[String, Meta] =
    sessions.synchronized {
      sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Meta]())
    }

  /** The table at `path` as a DataFrame. Schema inference (a Spark job
    * for parquet/csv/json) and the footer read run once per session,
    * path and listing: a hit hands Spark the recorded schema, so it
    * starts no job and reads no footer. A rewritten file or directory
    * changes the listing and resolves afresh. */
  private def resolve(spark: SparkSession, ext: String, path: String): DataFrame = {
    val key = Paths.get(path).toAbsolutePath.normalize
    val listing = listingOf(key)
    val known = metas(spark)
    val hit = Option(known.get(key.toString)).filter(m => listing.contains(m.listing))
    val (df, nanosCols) = hit match {
      case Some(m) => (reader(spark, ext).schema(m.schema).load(path), m.nanosCols)
      case None =>
        val df = reader(spark, ext).load(path)
        val cols = if (ext == "parquet") nanosTimestampCols(spark, path) else Set.empty[String]
        listing.foreach(l => known.put(key.toString, Meta(l, df.schema, cols)))
        (df, cols)
    }
    val scan = if (listing.exists(oneSplit(spark, _))) df.coalesce(1) else df
    if (ext == "txt") scan.withColumnRenamed("value", "line")
    else normalize(scan, nanosCols)
  }

  /** Whether Spark reads these files as one partition anyway: its split
    * size (`FilePartition.maxSplitBytes`, from this session's
    * `spark.sql.files.*` confs and parallelism), then its next-fit
    * packing, which charges each file `openCostInBytes` and starts a new
    * partition once the next file does not fit. Files Spark skips are
    * left out, and empty files make no split. Such a scan is handed back
    * as `coalesce(1)`: still one task, but it reports a single partition,
    * so aggregates, sorts and shuffle joins over it plan no exchange. A
    * `spark.sql.files.maxPartitionNum` merge is not modelled; it only
    * makes this rule decline a table Spark would read as one split. */
  private def oneSplit(spark: SparkSession, listing: Seq[(String, Long, Long)]): Boolean = {
    val openCost = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.openCostInBytes"))
    val sizes = listing.collect { case (name, size, _) if !hidden(name) => size }
    val maxSplit = FilePartition.maxSplitBytes(spark, sizes.map(_ + openCost).sum)
    val files = sizes.filter(_ > 0)
    files.sum + (files.size - 1) * openCost <= maxSplit
  }

  /** Spark's data-file filter: a path component starting with `_` (other
    * than a `k=v` partition directory) or with `.` hides the file. */
  private def hidden(relName: String): Boolean =
    relName.split(java.io.File.separatorChar)
      .exists(c => (c.startsWith("_") && !c.contains("=")) || c.startsWith("."))

  /** Sorted (relative name, size, mtime in ns) of every regular file at
    * or under `p`; None when the tree changed under the walk (then the
    * lookup is served, but not cached). */
  private def listingOf(p: Path): Option[Seq[(String, Long, Long)]] =
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

  /** Columns whose parquet logical type is TIMESTAMP(NANOS), read from
    * one file footer (a metadata-only driver read, like schema
    * inference). Keyed off the file's own logical type — NOT the column
    * name — so a user table with a plain long `ts` column is untouched. */
  private def nanosTimestampCols(spark: SparkSession, path: String): Set[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath)
            .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        else Some(p)
      file.map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          reader.getFileMetaData.getSchema.getFields.asScala.collect {
            case fld if fld.isPrimitive && (fld.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
              case _ => false
            }) => fld.getName
          }.toSet
        } finally reader.close()
      }.getOrElse(Set.empty)
    } catch { case scala.util.control.NonFatal(_) => Set.empty }
  }

  /** Parquet TIMESTAMP(NANOS) is unreadable by Spark 4 unless
    * `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces it as a
    * ns-epoch long. Normalize such columns (identified by the footer's
    * logical type, see [[nanosTimestampCols]]) back to TimestampType (µs)
    * so KQL datetime semantics apply. */
  private def normalize(df: DataFrame, nanosCols: Set[String]): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == LongType && nanosCols(f.name))
        // integral div: Column./ is double division, which loses ULPs on
        // 1.7e18-scale ns epochs (up to ±128 ns → off-by-1µs truncations)
        d.withColumn(f.name, timestamp_micros(expr(s"`${f.name}` div 1000")))
      // KQL datetime is a single UTC instant type; fold parquet
      // TIMESTAMP_NTZ into session-UTC TIMESTAMP so every datetime op
      // sees one type (session TZ is pinned UTC ⇒ same wall values).
      else if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast("timestamp"))
      else d
    }
}
