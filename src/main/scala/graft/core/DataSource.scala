package graft.core

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.{DataSource => SparkDataSource, FileFormat}
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** A named producer of a DataFrame — the unit constraints are declared over.
  *
  * Mirrors the reference's `DataSource` hierarchy
  * (datajudge `src/datajudge/data_source.py:11-105`). Where the reference
  * reflects SQLAlchemy tables lazily, we hand Catalyst a logical plan; the
  * schema is "reflected" from the catalog or the file footer (once per file
  * source, see [[ReflectedSchema]]), never declared by the user.
  */
trait DataSource extends Serializable {
  /** Human-readable name, used in test ids and failure messages. */
  def name: String

  /** The logical plan. Implementations must be cheap: no actions here. */
  def df(spark: SparkSession): DataFrame
}

/** A catalog table (`TableDataSource`, reference `data_source.py:25-53`). */
final case class TableSource(table: String) extends DataSource {
  override def name: String = table
  override def df(spark: SparkSession): DataFrame = spark.table(table)
}

/** Once-only schema reflection for a file source, per (source instance,
  * session) — the reference's `sa.Table(..., autoload_with=engine)`, which
  * reflects a table once. Inferring a file schema is a Spark job (parquet
  * footers) or a scan (csv/json `inferSchema`); every later read passes the
  * reflected schema, so only the file listing is redone and new files are
  * still seen. The lock makes inference once-only when constraints retrieve
  * concurrently; the first caller gets the inferring read itself.
  */
private[core] final class ReflectedSchema {
  // weakly keyed: a stopped session's entry goes with it
  private val bySession = new java.util.WeakHashMap[SparkSession, StructType]()

  def load(spark: SparkSession, path: String)(reader: => DataFrameReader): DataFrame = {
    var inferred: DataFrame = null
    val schema = synchronized {
      Option(bySession.get(spark)).getOrElse {
        inferred = reader.load(path)
        bySession.put(spark, inferred.schema)
        inferred.schema
      }
    }
    if (inferred != null) inferred else reader.schema(schema).load(path)
  }
}

private[core] object ReflectedSchema {

  /** Whether `format` is one of Spark's file formats (parquet, csv, json,
    * orc, text, xml, avro, ...), which all take a reader schema. Other
    * providers may refuse one: a DataSource V2 connector such as `warc`
    * that does not support external metadata fails on `reader.schema`.
    */
  def accepts(format: String): Boolean = {
    val provider = SparkDataSource.lookupDataSource(format, SQLConf.get)
    classOf[FileFormat].isAssignableFrom(provider) ||
    classOf[FileDataSourceV2].isAssignableFrom(provider)
  }
}

/** A parquet file/directory treated as a table. The idiomatic lakehouse
  * analogue of the reference's db/schema/table triple. The schema
  * (partition columns included) is reflected once per instance and
  * session, so a schema change needs a new source.
  */
final case class ParquetSource(path: String, label: Option[String] = None)
    extends DataSource {
  @transient private lazy val reflected = new ReflectedSchema
  override def name: String =
    label.getOrElse(path.split('/').last.stripSuffix(".parquet"))
  override def df(spark: SparkSession): DataFrame =
    reflected.load(spark, path)(spark.read.format("parquet"))
}

/** Any Spark file-based source format (csv / json / orc / text / avro ...)
  * treated as a table — the reference reaches non-DB data by loading it into
  * a database first; on a lakehouse the reader IS the loader. `options` pass
  * straight to the DataFrameReader (header, inferSchema, delimiter, ...).
  * Without `schemaDdl`, a Spark file format's schema is reflected once per
  * instance and session (csv/json inference scans the files that once);
  * any other provider (a connector such as `warc`) is read plainly on
  * every call. At 100 TB
  * callers should pass an explicit `schemaDdl` so planning stays
  * metadata-only.
  */
final case class FileSource(
    path: String,
    format: String,
    options: Map[String, String] = Map.empty,
    schemaDdl: Option[String] = None,
    label: Option[String] = None)
    extends DataSource {
  @transient private lazy val reflected: Option[ReflectedSchema] =
    if (schemaDdl.isEmpty && ReflectedSchema.accepts(format)) Some(new ReflectedSchema)
    else None
  override def name: String =
    label.getOrElse(path.split('/').last)
  override def df(spark: SparkSession): DataFrame = {
    def reader = spark.read.format(format).options(options)
    reflected match {
      case Some(r) => r.load(spark, path)(reader)
      case None => schemaDdl.fold(reader)(reader.schema).load(path)
    }
  }
}

/** A raw SQL query (`RawQueryDataSource`, reference `data_source.py:79-105`).
  * Registered tables/views must already be visible to `spark.sql`.
  */
final case class QuerySource(query: String, queryName: String) extends DataSource {
  override def name: String = queryName
  override def df(spark: SparkSession): DataFrame = spark.sql(query)
}

/** An arbitrary user-built DataFrame (`ExpressionDataSource`,
  * reference `data_source.py:57-75`) — the exact analogue of wrapping a
  * composable SQLAlchemy selectable.
  */
final case class FrameSource(@transient frame: DataFrame, frameName: String)
    extends DataSource {
  override def name: String = frameName
  override def df(spark: SparkSession): DataFrame = frame
}
