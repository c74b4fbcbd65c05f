package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 catalog exposing an index store's live aliases as SQL tables —
  * the reference's alias read surface (`GET /<alias>/_search`,
  * flows/main_flow.py:496-506) as a first-class Spark catalog:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/path/to/store")
  *   spark.sql("SELECT * FROM graft.click WHERE id = '42'")
  * }}}
  *
  * Each `loadTable` re-reads the manifest and returns Spark's native
  * parquet [[ParquetTable]] over the alias's CURRENT physical dir, with
  * the store's memoized schema ([[graft.sync.IndexStore.schemaOf]]) so
  * a query pays no inference job after the index's first read, and:
  *  - filter/column pushdown work exactly as for any parquet scan (the
  *    scan builder IS the built-in one — nothing reimplemented);
  *  - an alias swap atomically repoints the next query (the K5 commit
  *    protocol's reader half), with no view re-registration step;
  *  - a table name is stable across blue/green publishes even though
  *    the physical dir changes every publish.
  *
  * `INSERT INTO <catalog>.<alias>` is supported — but never as a raw
  * file write: the plan falls back to a driver-side `InsertableRelation`
  * ([[org.apache.spark.sql.connector.write.V1Write]]) that routes the
  * whole batch through [[graft.sync.SyncPipeline.insertInto]] — the same
  * tolerant staged write + atomic alias swap every pipeline publish
  * uses. Readers see the old or the new index, never a partial append,
  * and with `spark.sql.catalog.<name>.validity` set (a boolean SQL
  * expression over the row), poison rows quarantine under `_rejects_*`
  * instead of failing the INSERT. DDL (`CREATE`/`DROP`/`ALTER`) still
  * throws: index lifecycle belongs to the store's commit protocol.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _
  private var validity: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root"))
    validity = Option(options.get("validity"))
  }

  override def name(): String = catalogName

  private def aliases(): Map[String, String] = GraftCatalog.readAliases(root)

  /** Tables live in the catalog's single (empty or "default") namespace. */
  private def inScope(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array("default"))

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (!inScope(namespace)) Array.empty
    else aliases().keys.toArray.sorted.map(Identifier.of(namespace, _))

  override def tableExists(ident: Identifier): Boolean =
    inScope(ident.namespace) && aliases().contains(ident.name)

  override def loadTable(ident: Identifier): Table = {
    val physical = aliases().filter(_ => inScope(ident.namespace)).getOrElse(ident.name,
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) ++ ident.namespace ++ Array(ident.name)))
    val path = java.nio.file.Paths.get(root).resolve(physical)
    val spark = SparkSession.active
    val parquet = ParquetTable(
      s"$catalogName.${ident.name}",
      spark,
      CaseInsensitiveStringMap.empty(),
      Seq(path.toString),
      userSpecifiedSchema = Some(graft.sync.IndexStore.schemaOf(spark, path)),
      fallbackFileFormat = classOf[ParquetFileFormat])
    new GraftCatalog.AliasTable(parquet, ident.name, root, validity)
  }

  private def readOnly: Nothing = throw new UnsupportedOperationException(
    "the graft catalog is read-only: publish through IndexStore's " +
      "staged-write + alias-swap commit protocol")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    readOnly

  override def alterTable(ident: Identifier, changes: TableChange*): Table = readOnly

  override def dropTable(ident: Identifier): Boolean = readOnly

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = readOnly

  // --- namespaces (one flat namespace) ------------------------------------

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean = inScope(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (inScope(namespace)) Map.empty[String, String].asJava
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Array(catalogName) ++ namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly
}

object GraftCatalog {

  /** The catalog's table: reads delegate to Spark's native
    * [[ParquetTable]] (pushdown intact); writes fall back to a
    * driver-side `InsertableRelation` so the batch routes through the
    * pipeline's tolerant staged write + alias swap — never a direct
    * file write into the live physical dir. */
  private class AliasTable(parquet: ParquetTable, alias: String, root: String,
      validity: Option[String])
      extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    import org.apache.spark.sql.connector.write._

    override def name(): String = parquet.name
    override def schema(): StructType = parquet.schema
    override def capabilities(): util.Set[TableCapability] = {
      val caps = new java.util.HashSet[TableCapability](parquet.capabilities())
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps
    }
    override def newScanBuilder(options: CaseInsensitiveStringMap) =
      parquet.newScanBuilder(options)

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        private var overwrite = false
        override def truncate(): WriteBuilder = { overwrite = true; this }
        override def build(): Write = new V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwriteFlag: Boolean): Unit = {
                val spark = data.sparkSession
                // store construction is idempotent (and runs the same
                // crash recovery every pipeline bootstrap runs)
                val store = new graft.sync.IndexStore(spark, root)
                val pipe = new graft.sync.SyncPipeline(store,
                  new graft.sync.WatermarkStore(root),
                  validity = validity.map(org.apache.spark.sql.functions.expr))
                pipe.insertInto(alias, data, overwrite || overwriteFlag)
                ()
              }
            }
        }
      }
  }

  /** Parse a store root's alias manifest (same format
    * [[graft.sync.IndexStore]] writes: one `alias=physical` per line).
    * Read fresh on every call — the manifest replace is atomic, so a
    * reader sees either the old or the new binding, never partial. */
  def readAliases(root: String): Map[String, String] = {
    val manifest = java.nio.file.Paths.get(root).resolve("_aliases.json")
    if (!java.nio.file.Files.exists(manifest)) Map.empty
    else java.nio.file.Files.readAllLines(manifest).asScala
      .filter(_.contains("=")).map { line =>
        val Array(a, p) = line.split("=", 2)
        a -> p
      }.toMap
  }
}
