package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

import graft.io.TableStore
import graft.model.TableFormats
import graft.spi.ConversionSource

/** Resolve a conversion source from a catalog entry — reference
  * CatalogConversionSource SPI (GlueCatalogConversionSource /
  * HMSCatalogConversionSource): the catalog supplies the table's location;
  * the format is detected from the table layout on storage.
  */
object CatalogConversionSource {

  /** Detect a table's format from its directory layout. */
  def detectFormat(rawPath: String,
      store: TableStore = TableStore.active()): String = {
    val path = graft.util.PathUtils.canonical(rawPath)
    def has(child: String) = store.exists(s"$path/$child")
    if (has("_delta_log")) TableFormats.Delta
    else if (has("metadata/version-hint.text")) TableFormats.Iceberg
    else if (has(".hoodie/hoodie.properties")) TableFormats.Hudi
    else if (has("snapshot/LATEST")) TableFormats.Paimon
    else TableFormats.Parquet
  }

  /** Build a source for a table registered in the Spark session catalog. */
  def fromCatalog(spark: SparkSession, dbTable: String): ConversionSource = {
    val parts = dbTable.split('.')
    val ident = parts match {
      case Array(db, t) => TableIdentifier(t, Some(db))
      case Array(t) => TableIdentifier(t)
      case _ => throw new IllegalArgumentException(s"bad table name $dbTable")
    }
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val location = graft.util.PathUtils.canonical(
      meta.location.getPath)
    fromPath(spark, location, ident.table)
  }

  /** Build a source for a bare path, detecting the format. A partition
    * spec only applies to parquet directories — table formats carry their
    * spec in their own metadata (reference RunCatalogSync.java:238-241
    * injects the dataset's partitionSpec into source properties).
    */
  def fromPath(spark: SparkSession, path: String, name: String,
      partitionSpec: Seq[graft.model.PartitionFieldSpec] = Nil)
      : ConversionSource = detectFormat(path) match {
    case TableFormats.Parquet =>
      new ParquetDirectorySource(spark, path, name, partitionSpec)
    case fmt => graft.RunSync.buildSource(spark, fmt, path, name)
  }

  /** Resolve a source from any catalog client (HMS/Glue-shaped or the
    * session catalog) — the reference's GlueCatalogConversionSource /
    * HMSCatalogConversionSource: the catalog supplies the location, the
    * storage layout supplies the format.
    */
  def fromCatalogClient(spark: SparkSession,
      client: graft.catalog.CatalogSyncClient,
      id: graft.catalog.CatalogTableIdentifier,
      partitionSpec: Seq[graft.model.PartitionFieldSpec] = Nil)
      : ConversionSource = {
    val entry = client.getTable(id).getOrElse(throw new IllegalArgumentException(
      s"no table ${id.fqName} in catalog ${client.catalogName}"))
    fromPath(spark, entry.location, id.table, partitionSpec)
  }
}
