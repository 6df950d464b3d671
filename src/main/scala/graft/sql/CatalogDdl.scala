package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog statement surface — the reference's catalog DDL and SHOW forms
  * (flink-sql-parser Parser.tdd:36-62: SqlCreateCatalog / SqlDropCatalog /
  * SqlUseCatalog / SqlShowCatalogs / SqlShowCurrentCatalog;
  * TableEnvironmentImpl.executeOperation:1002-1014, CatalogManager.java:
  * 182-212 register/unregister, 422 listCatalogs, setCurrentCatalog).
  *
  * Spark-first mapping: Spark's multi-catalog surface (SET CATALOG /
  * current_catalog() / SHOW CATALOGS) carries the native catalogs; catalogs
  * created by DDL land in a session-keyed registry (a name + its properties
  * + its database set — the analogue of the reference's
  * GenericInMemoryCatalog, the only catalog factory loadable without extra
  * jars, type 'generic_in_memory' per GenericInMemoryCatalogValidator
  * .java:25). A registered catalog is a real NAMESPACE:
  *
  *   - USE CATALOG switches to it and to its default database
  *     (CatalogManager.setCurrentCatalog:240-257 — a no-op when the catalog
  *     is already current, so the current database is kept);
  *   - CREATE/DROP/ALTER DATABASE while it is current operate on ITS
  *     database set (GenericInMemoryCatalog.createDatabase/dropDatabase,
  *     GenericInMemoryCatalog.java:97-150, including the RESTRICT
  *     not-empty and CASCADE drop-tables semantics and the reference's
  *     DatabaseAlreadyExist/NotExist/NotEmpty message shapes);
  *   - USE <db> resolves against its database set
  *     (CatalogManager.setCurrentDatabase:278-296);
  *   - connector tables created while it is current are keyed by
  *     (catalog, database, name) — see [[ConnectorTables.canonical]] —
  *     so SHOW TABLES lists only the current namespace and qualified
  *     `cat.db.t` references resolve cross-catalog, the reference's
  *     CatalogManager.qualifyIdentifier(:616-621) resolution order.
  *
  * Remaining documented divergence: Spark TEMP VIEWS (and native catalog
  * tables) are session-global, not catalog-scoped — SHOW VIEWS and a bare
  * view reference behave the same under any current catalog. The reference
  * scopes temporary views per catalog.database too; Spark's temp-view layer
  * has no namespace axis to hang that on. FUNCTIONS registered via CREATE
  * FUNCTION are likewise session-global (Spark's UDF registry has no
  * catalog axis); the reference scopes catalog functions per
  * catalog.database.
  *
  * DROP CATALOG of the CURRENT catalog: the reference's unregisterCatalog
  * (CatalogManager.java:202-212) removes the catalog but leaves
  * currentCatalogName dangling — the next setCurrentDatabase NPEs on
  * `catalogs.get(currentCatalogName)`. Reproducing a latent NPE buys
  * nothing; this surface resets the session to Spark's native current
  * catalog instead (divergence documented here, spec-pinned).
  *
  * `DESCRIBE CATALOG` PARSES in the reference's grammar
  * (parserImpls.ftl:76-103) but the 1.12 blink planner's converter never
  * produces an operation for it, so executeSql throws
  * `Unsupported query: <statement>` (ParserImpl.java:79) — reproduced
  * verbatim, not silently swallowed. `DESCRIBE DATABASE` is in the same
  * unconverted bucket in the reference, but it is a NATIVE Spark statement
  * here and passes through untouched (spec-pinned) — strictly more capable
  * than the reference, never less.
  *
  * Error texts match the reference: duplicate CREATE → "Catalog %s already
  * exists." (CatalogManager.registerCatalog:188), DROP of an unknown name →
  * "Catalog %s does not exist." (unregisterCatalog:209), USE of an unknown
  * name → "A catalog with name [%s] does not exist." (setCurrentCatalog).
  */
object CatalogDdl {

  private[sql] case class Cat(name: String, props: Map[String, String]) {
    def defaultDatabase: String = props.getOrElse("default-database", "default")
    /** lowercased database name → (spelled name, properties), in creation
      * order — the reference's GenericInMemoryCatalog LinkedHashMap,
      * seeded with the default database
      * (GenericInMemoryCatalog.java:72-76). Spelled names are kept so
      * SHOW DATABASES/SHOW CURRENT DATABASE render the case the user
      * declared, like the reference. */
    val databases: scala.collection.mutable.LinkedHashMap[String, (String, Map[String, String])] =
      scala.collection.mutable.LinkedHashMap(
        defaultDatabase.toLowerCase -> (defaultDatabase, Map.empty[String, String]))
  }

  /** (session identity, catalog name) → catalog; session-keyed like
    * [[ConnectorTables]]. */
  private val catalogs =
    scala.collection.concurrent.TrieMap.empty[String, Cat]
  /** session identity → (current catalog, current database), set only while
    * a DDL-registered catalog is current ("override"); absent = Spark's
    * native current catalog is authoritative. */
  private val current =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  private def skey(s: SparkSession) = System.identityHashCode(s).toString
  private def key(s: SparkSession, name: String) = s"${skey(s)}:${name.toLowerCase}"

  /** The DDL-registered catalog that is current for this session, if any. */
  private[sql] def currentOverride(spark: SparkSession): Option[Cat] =
    current.get(skey(spark)).flatMap(c => catalogs.get(key(spark, c._1)))

  /** Current catalog's SPELLED name (the case the user declared). */
  private[sql] def currentOverrideName(spark: SparkSession): Option[String] =
    currentOverride(spark).map(_.name)

  /** The (catalog, database) namespace that identifier resolution runs in,
    * while a DDL-registered catalog is current — the repo's
    * CatalogManager.qualifyIdentifier inputs. */
  private[sql] def currentNamespace(spark: SparkSession): Option[(String, String)] =
    current.get(skey(spark)).filter(c => catalogs.contains(key(spark, c._1)))

  private[sql] def isRegistered(spark: SparkSession, cat: String): Boolean =
    catalogs.contains(key(spark, cat))

  private[sql] def databaseExists(spark: SparkSession, cat: String, db: String): Boolean =
    catalogs.get(key(spark, cat)).exists(_.databases.contains(db.toLowerCase))

  private val createRe =
    """(?is)^\s*CREATE\s+CATALOG\s+(\w+)\s*(?:WITH\s*\((.*)\)\s*)?;?\s*$""".r
  private val dropRe =
    """(?is)^\s*DROP\s+CATALOG\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s*;?\s*$""".r
  private val useRe = """(?is)^\s*USE\s+CATALOG\s+(\w+)\s*;?\s*$""".r
  // `USE <db>` while a DDL-registered catalog is current: resolves against
  // THAT catalog's databases, not Spark's —
  // CatalogManager.setCurrentDatabase:278-296 incl. the unknown-db error
  private val useDbRe = """(?is)^\s*USE\s+(?!CATALOG\b)(\w+)\s*;?\s*$""".r
  private val showRe = """(?is)^\s*SHOW\s+CATALOGS\s*;?\s*$""".r
  private val showCurrentCatRe = """(?is)^\s*SHOW\s+CURRENT\s+CATALOG\s*;?\s*$""".r
  private val showCurrentDbRe = """(?is)^\s*SHOW\s+CURRENT\s+DATABASE\s*;?\s*$""".r
  private val descCatRe = """(?is)^\s*DESCRIBE\s+CATALOG\s+\w+\s*;?\s*$""".r
  private val propRe = """'([^']+)'\s*=\s*'([^']*)'""".r
  // database DDL while a DDL-registered catalog is current (the preprocess
  // chain may already have rewritten WITH (...) → WITH DBPROPERTIES (...))
  private val createDbRe =
    """(?is)^\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*(?:COMMENT\s+'[^']*'\s*)?(?:WITH\s+(?:DBPROPERTIES\s+)?\((.*)\)\s*)?;?\s*$""".r
  private val dropDbRe =
    """(?is)^\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?(\w+)\s*(RESTRICT|CASCADE)?\s*;?\s*$""".r
  private val alterDbRe =
    """(?is)^\s*ALTER\s+DATABASE\s+(\w+)\s+SET\s+(?:DBPROPERTIES\s+)?\((.*)\)\s*;?\s*$""".r

  // Blanked extractors (SqlText.Blanked): [[matches]] tests the BLANKED
  // probe, so [[run]] must decide its branch on the same text — a literal
  // hazard (COMMENT 'it''s') that blanks clean would otherwise pass matches
  // and then miss every original-text regex, landing in the catch-all
  // (ADVICE r15). Group contents are sliced from the ORIGINAL, so property
  // values stay intact.
  private val createB = new SqlText.Blanked(createRe)
  private val dropB = new SqlText.Blanked(dropRe)
  private val useB = new SqlText.Blanked(useRe)
  private val useDbB = new SqlText.Blanked(useDbRe)
  private val createDbB = new SqlText.Blanked(createDbRe)
  private val dropDbB = new SqlText.Blanked(dropDbRe)
  private val alterDbB = new SqlText.Blanked(alterDbRe)

  /** The statements this front-end owns. The database-DDL and bare-USE
    * shapes are owned only while a DDL-registered catalog is current —
    * [[run]] handles exactly this set (same predicates, so a captured
    * statement can never fall through to the catch-all; the
    * matches/run-mismatch class found by fuzz family 29). */
  def matches(spark: SparkSession, probe: String): Boolean = {
    val overridden = currentNamespace(spark).isDefined
    createRe.findFirstIn(probe).isDefined || dropRe.findFirstIn(probe).isDefined ||
      useRe.findFirstIn(probe).isDefined || showRe.findFirstIn(probe).isDefined ||
      showCurrentCatRe.findFirstIn(probe).isDefined ||
      showCurrentDbRe.findFirstIn(probe).isDefined ||
      descCatRe.findFirstIn(probe).isDefined ||
      (overridden && (useDbRe.findFirstIn(probe).isDefined ||
        createDbRe.findFirstIn(probe).isDefined ||
        dropDbRe.findFirstIn(probe).isDefined ||
        alterDbRe.findFirstIn(probe).isDefined))
  }

  /** `native` runs a statement through the DELEGATE parser (same contract
    * as [[DatabaseDdl.run]] — spark.sql would re-enter this dispatch). */
  def run(spark: SparkSession, sql: String, native: String => DataFrame): DataFrame = {
    import spark.implicits._
    val ns = currentNamespace(spark)
    val probe = SqlText.blank(sql)
    sql match {
      case createB(name, propsBody) =>
        val props = Option(propsBody).map(b =>
          propRe.findAllMatchIn(b).map(m => m.group(1).toLowerCase -> m.group(2)).toMap)
          .getOrElse(Map.empty)
        // the reference discovers the catalog factory from the required
        // 'type' property (CatalogFactory descriptor validation); only the
        // in-memory factory is loadable in this surface
        val tpe = props.getOrElse("type", throw new IllegalArgumentException(
          s"CREATE CATALOG $name: the 'type' property is required to discover a catalog factory"))
        if (!tpe.equalsIgnoreCase("generic_in_memory"))
          throw new IllegalArgumentException(
            s"CREATE CATALOG $name: unsupported catalog type '$tpe' " +
              "(only 'generic_in_memory' is available without extra jars)")
        if (catalogs.contains(key(spark, name)))
          throw new IllegalArgumentException(s"Catalog $name already exists.")
        catalogs.put(key(spark, name), Cat(name, props)): Unit
        spark.emptyDataFrame
      case dropB(ifExists, name) =>
        val removed = catalogs.remove(key(spark, name))
        if (removed.isEmpty && ifExists == null)
          throw new IllegalArgumentException(s"Catalog $name does not exist.")
        // the in-memory catalog's objects die with it — a later CREATE
        // CATALOG of the same name starts empty, never resurrecting
        // stale tables (GenericInMemoryCatalog holds its objects; DROP
        // discards the instance)
        if (removed.isDefined) ConnectorTables.dropCatalogNamespace(spark, name)
        // dropping the CURRENT catalog resets to Spark's native catalog
        // (the reference leaves currentCatalogName dangling and NPEs on
        // the next setCurrentDatabase — divergence documented above)
        if (current.get(skey(spark)).exists(_._1.equalsIgnoreCase(name))) {
          current.remove(skey(spark))
          ConnectorTables.remount(spark)
        }
        spark.emptyDataFrame
      case useDbB(db) if ns.isDefined =>
        val (cat, _) = ns.get
        if (!databaseExists(spark, cat, db))
          throw new IllegalArgumentException(
            s"A database with name [$db] does not exist in the catalog: " +
              s"[${catalogs(key(spark, cat)).name}].")
        current(skey(spark)) = (cat, db.toLowerCase)
        ConnectorTables.remount(spark)
        spark.emptyDataFrame
      case createDbB(ifNotExists, db, propsBody) if ns.isDefined =>
        val cat = catalogs(key(spark, ns.get._1))
        if (cat.databases.contains(db.toLowerCase)) {
          if (ifNotExists == null) // DatabaseAlreadyExistException message
            throw new IllegalArgumentException(
              s"Database $db already exists in Catalog ${cat.name}.")
        } else {
          val props = Option(propsBody).map(b =>
            propRe.findAllMatchIn(b).map(m => m.group(1).toLowerCase -> m.group(2)).toMap)
            .getOrElse(Map.empty)
          cat.databases(db.toLowerCase) = (db, props)
        }
        spark.emptyDataFrame
      case dropDbB(ifExists, db, mode) if ns.isDefined =>
        val catName = ns.get._1
        val cat = catalogs(key(spark, catName))
        if (!cat.databases.contains(db.toLowerCase)) {
          if (ifExists == null) // DatabaseNotExistException message
            throw new IllegalArgumentException(
              s"Database $db does not exist in Catalog ${cat.name}.")
        } else {
          val members = ConnectorTables.listNamespace(spark, catName, db)
          if (members.nonEmpty && !"CASCADE".equalsIgnoreCase(Option(mode).getOrElse("")))
            // DatabaseNotEmptyException message (RESTRICT is the default,
            // SqlDropDatabase grammar)
            throw new IllegalArgumentException(
              s"Database $db in catalog ${cat.name} is not empty.")
          members.foreach(t =>
            ConnectorTables.dropNamespaced(spark, catName, db, t))
          cat.databases.remove(db.toLowerCase): Unit
        }
        spark.emptyDataFrame
      case alterDbB(db, propsBody) if ns.isDefined =>
        val catName = ns.get._1
        val cat = catalogs(key(spark, catName))
        if (!cat.databases.contains(db.toLowerCase))
          throw new IllegalArgumentException(
            s"Database $db does not exist in Catalog ${cat.name}.")
        val props = propRe.findAllMatchIn(propsBody)
          .map(m => m.group(1).toLowerCase -> m.group(2)).toMap
        // AlterDatabaseOperation replaces matching keys on the existing
        // CatalogDatabase (GenericInMemoryCatalog.alterDatabase)
        val (spelled, old) = cat.databases(db.toLowerCase)
        cat.databases(db.toLowerCase) = (spelled, old ++ props)
        spark.emptyDataFrame
      case useB(name) =>
        if (catalogs.contains(key(spark, name))) {
          // no-op when already current — the current database is KEPT
          // (setCurrentCatalog:248 switches the db only on a real change)
          if (!current.get(skey(spark)).exists(_._1.equalsIgnoreCase(name))) {
            current(skey(spark)) =
              (name.toLowerCase, catalogs(key(spark, name)).defaultDatabase.toLowerCase)
            ConnectorTables.remount(spark)
          }
          spark.emptyDataFrame
        } else {
          // a failed USE CATALOG leaves the current namespace unchanged
          // (setCurrentCatalog throws before mutating state)
          val out =
            try native(s"SET CATALOG $name")
            catch { case _: Exception =>
              throw new IllegalArgumentException(
                s"A catalog with name [$name] does not exist.")
            }
          if (current.remove(skey(spark)).isDefined) ConnectorTables.remount(spark)
          out
        }
      case _ if showRe.findFirstIn(probe).isDefined =>
        // native catalogs ∪ DDL-registered ones, sorted — the reference's
        // listCatalogs() (TableEnvironmentImpl.java:513-518 .sorted())
        val nativeNames = native("SHOW CATALOGS").collect().map(_.getString(0)).toSeq
        val prefix = s"${skey(spark)}:"
        val ddlNames = catalogs.collect {
          case (k, c) if k.startsWith(prefix) => c.name }.toSeq
        (nativeNames ++ ddlNames :+ "spark_catalog").distinct.sorted
          .toDF("catalog name")
      case _ if showCurrentCatRe.findFirstIn(probe).isDefined =>
        currentOverrideName(spark).map(Seq(_).toDF("current catalog name"))
          .getOrElse(native("SELECT current_catalog() AS `current catalog name`"))
      case _ if showCurrentDbRe.findFirstIn(probe).isDefined =>
        // a DROPped-while-current database leaves the stored name dangling
        // — report it like the reference's currentDatabaseName (no crash)
        currentNamespace(spark)
          .map(n => Seq(catalogs(key(spark, n._1)).databases.get(n._2)
              .map(_._1).getOrElse(n._2))
            .toDF("current database name"))
          .getOrElse(native("SELECT current_database() AS `current database name`"))
      case _ if descCatRe.findFirstIn(probe).isDefined =>
        // DESCRIBE CATALOG — parsed, never converted (no operation in the
        // 1.12 blink planner); ParserImpl.java:79
        throw new UnsupportedOperationException(s"Unsupported query: ${sql.trim}")
      case _ =>
        // unreachable while matches() and these cases stay aligned; a
        // pointed error beats a silent native fall-through if they drift
        throw new UnsupportedOperationException(s"Unsupported query: ${sql.trim}")
    }
  }

  /** The current DDL catalog's database list, creation-ordered — SHOW
    * DATABASES under an override (GenericInMemoryCatalog.listDatabases
    * preserves the LinkedHashMap order, default database first). */
  private[sql] def listDatabases(spark: SparkSession): Option[Seq[String]] =
    currentNamespace(spark).map(n =>
      catalogs(key(spark, n._1)).databases.values.map(_._1).toSeq)
}
