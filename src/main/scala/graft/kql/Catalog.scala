package graft.kql

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import graft.sources.AtRest

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

  /** The table at `path` as a DataFrame. Schema inference (a Spark job
    * for parquet/csv/json) and the footer read run once per session,
    * path and listing ([[AtRest.open]]): a hit hands Spark the recorded
    * schema, so it starts no job and reads no footer. A rewritten file or
    * directory changes the listing and resolves afresh. */
  private def resolve(spark: SparkSession, ext: String, path: String): DataFrame = {
    val (df, nanosCols) = AtRest.open(spark, path, ext, reader(spark, ext))(
      if (ext == "parquet") nanosTimestampCols(spark, path) else Set.empty[String])
    val scan = if (AtRest.readsOneSplit(df)) df.coalesce(1) else df
    if (ext == "txt") scan.withColumnRenamed("value", "line")
    else normalize(scan, nanosCols)
  }

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
