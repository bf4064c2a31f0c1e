package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.avro.AvroCdcReader

/** A Spark [[TableCatalog]] over a CDC landing zone: every
  * `<root>/avro/<folder>/` directory is a table named `<folder>`, readable
  * with plain SQL —
  *
  * {{{
  * spark.sql.catalog.cdc      = graft.sources.AvroCdcCatalog
  * spark.sql.catalog.cdc.root = /data/landing
  * SELECT count(*) FROM cdc.users WHERE NOT source_metadata.is_deleted
  * }}}
  *
  * Each table's schema is the NAME-MERGED union across all of the folder's
  * file generations (conflicting payload types collapse to string — the
  * reference's universal fallback), so a consumer sees one stable view as
  * writer schemas evolve. Reads go through the same [[AvroCdcTable]] scan
  * as `format("cdc-avro")`: one partition per bin of sync-marker byte ranges,
  * column pruning, per-file type coercion to the merged view.
  *
  * Read-only by design — the landing zone is produced by the upstream CDC
  * writer (reference main.py:601-613); create/alter/drop are rejected.
  */
class AvroCdcCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _
  private var ignoreCorrupt: Boolean = false

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.root=<landing dir>"))
    ignoreCorrupt = options.getBoolean("ignoreCorruptFiles", false)
  }

  override def name(): String = catalogName

  private def folders(): Seq[String] = {
    val base = new Path(s"$root/avro")
    val fs = base.getFileSystem(AvroCdcDataSource.hadoopConf)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, s"catalog $catalogName has no namespaces")
    folders().map(Identifier.of(Array.empty, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && folders().contains(ident.name)

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, ident.name))
    val glob = s"$root/avro/${ident.name}/*.avro"
    val files = AvroCdcReader.listFiles(Seq(glob), AvroCdcDataSource.hadoopConf)
    val flats = AvroCdcDataSource.headerFlats(files).toSeq
    require(flats.nonEmpty,
      s"$catalogName.${ident.name}: no readable Avro file in $root/avro/${ident.name}")
    val merged = AvroCdcDataSource.mergeFlatSchemas(flats)
    new AvroCdcTable(Seq(glob), files,
      AvroCdcDataSource.sparkSchema(merged), merged, ignoreCorrupt)
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"catalog $catalogName is read-only (CDC landing zone)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"catalog $catalogName is read-only (CDC landing zone)")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      s"catalog $catalogName is read-only (CDC landing zone)")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"catalog $catalogName is read-only (CDC landing zone)")

  // ---- SupportsNamespaces: single flat (empty) namespace ----

  override def listNamespaces(): Array[Array[String]] = Array.empty

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace.toSeq)
    Array.empty
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(s"catalog $catalogName is read-only")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(s"catalog $catalogName is read-only")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(s"catalog $catalogName is read-only")
}
