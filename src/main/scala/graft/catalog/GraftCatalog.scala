package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Named V2 catalog exposing the test corpus under THREE-PART names —
  * `graft.main.<table>` — so reference SQL written against a
  * `catalog.schema.table` layout (the reference's connector model:
  * every table lives under catalog.schema, `ConnectorMetadata
  * .getTableHandle`) parses and runs unchanged. Registered via
  * `spark.sql.catalog.graft = graft.catalog.GraftCatalog`; the data
  * directory comes from `spark.sql.catalog.graft.root`, read at
  * LOOKUP time (not pinned at initialize) so one session can point
  * the catalog at different scale factors.
  *
  * Tables are served as Spark's own V2 ParquetTable, so scans get the
  * full native read path — pushdown, pruning, vectorization — not a
  * wrapper. The table's schema is read from one footer on the driver
  * at lookup ([[graft.engine.Graft.parquetSchema]]), so resolving a
  * three-part name runs no schema-inference job. Read-only: DDL
  * methods throw (the corpus is immutable input; writes go through the
  * sink surfaces).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def root: String = {
    val conf = SparkSession.active.conf
    conf.getOption(s"spark.sql.catalog.$catalogName.root").getOrElse(
      throw new IllegalStateException(
        s"set spark.sql.catalog.$catalogName.root to the data directory"))
  }

  private def pathOf(ident: Identifier): String =
    s"$root/${ident.name}.parquet"

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireMain(namespace)
    val dir = new java.io.File(root)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => Identifier.of(namespace, f.getName.stripSuffix(".parquet")))
  }

  private def requireMain(namespace: Array[String]): Unit =
    if (!(namespace.length == 1 && namespace(0).equalsIgnoreCase("main")))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace)

  override def loadTable(ident: Identifier): Table = {
    requireMain(ident.namespace())
    val path = pathOf(ident)
    if (!new java.io.File(path).exists())
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    val spark = SparkSession.active
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      ident.name(),
      spark,
      new CaseInsensitiveStringMap(Map("path" -> path).asJava),
      Seq(path),
      graft.engine.Graft.parquetSchema(spark, path),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  // ---- SupportsNamespaces: the single fixed `main` schema
  override def listNamespaces(): Array[Array[String]] = Array(Array("main"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else { requireMain(namespace); Array.empty }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && namespace(0).equalsIgnoreCase("main")

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    requireMain(namespace)
    Map("location" -> root).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
}
