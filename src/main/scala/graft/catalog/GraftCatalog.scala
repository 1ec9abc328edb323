package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.JavaConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetTable, ParquetWrite}
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft` — a parquet-backed DataSource-v2 catalog with snapshot (MVCC) tables,
  * copy-on-write row-level operations (MERGE / UPDATE / DELETE), and
  * `VERSION AS OF` time travel.
  *
  * This is the piece that completes the CDC story the compositional changeset
  * merge (q75) starts: q75 *computes* a merged state as a query result; a real
  * lakehouse pipeline needs the engine to OWN the table so `MERGE INTO` can be
  * issued against it repeatedly. The design is the public copy-on-write recipe
  * (Iceberg/Delta-class, re-derived on Spark's connector API — no code from
  * either):
  *
  *   - A table is a directory holding immutable parquet SEGMENT directories
  *     plus a tiny `_graft_meta` file: the schema and, per snapshot id, the
  *     list of segments visible in that snapshot. Nothing is ever rewritten in
  *     place — a commit writes a new segment and atomically swaps the meta
  *     file (temp file + ATOMIC_MOVE), so readers pin a snapshot's segment
  *     list at plan time and are never torn by a concurrent commit.
  *   - APPEND (INSERT INTO) commits `current ++ newSegment`; TRUNCATE /
  *     row-level REPLACE commits `[newSegment]`. Old segments stay on disk —
  *     that is what makes `VERSION AS OF n` (TableCatalog.loadTable(ident,
  *     version)) a zero-cost metadata lookup rather than a restore job.
  *   - MERGE/UPDATE/DELETE go through `SupportsRowLevelOperations` in
  *     GROUP-BASED (copy-on-write) mode: Spark's own RewriteMergeIntoTable /
  *     RewriteUpdateTable / RewriteDeleteFromTable plan the scan + the
  *     surviving-row computation; the operation's write builder lands the
  *     result as a full replacement snapshot. The "group" here is the whole
  *     table — the honest first rung of the copy-on-write ladder; the scale
  *     seam is to report partition directories as groups (via
  *     `requiredMetadataAttributes` + runtime group filtering) so a MERGE
  *     touching one day rewrites one day. The commit/snapshot machinery below
  *     is already shaped for that (a replace commit is just "these segments
  *     out, this segment in").
  *   - Scans and writes DELEGATE to Spark's native v2 parquet machinery
  *     (`ParquetTable` scans with pushdown/pruning/vectorization,
  *     `ParquetWrite` with the Hadoop commit protocol) — the catalog adds
  *     snapshot bookkeeping, not a bespoke reader.
  *
  * Wired into a session via
  * `spark.sql.catalog.graft = graft.catalog.GraftCatalog` +
  * `spark.sql.catalog.graft.root = <dir>`; exercised by q152–q154 and
  * GraftCatalogSpec.
  */
final class GraftCatalog extends TableCatalog with ProcedureCatalog with ViewCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** FunctionCatalog: the engine-owned `bucket` function. Spark's SPJ
    * machinery resolves a scan-reported `bucket(n, col)` transform by
    * loading the function from the relation's catalog, so exposing it here
    * is what makes bucket-partitioned scans' KeyGroupedPartitioning
    * plannable; it is also directly callable (`SELECT <cat>.bucket(16, k)`). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    // the bound bucket builtin plus every persisted SQL function in the
    // namespace (GraftFunctions) — SHOW FUNCTIONS IN <cat>.<ns> lists both
    val nsDir = namespace.foldLeft(root)(_ resolve _)
    val persisted =
      if (!Files.isDirectory(nsDir)) Array.empty[Identifier]
      else GraftMeta.listDir(nsDir)
        .filter(GraftFunctions.exists)
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
    persisted :+ Identifier.of(namespace, "bucket") :+ Identifier.of(namespace, "zcell")
  }
  override def loadFunction(ident: Identifier)
    : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucket.BucketFunction
    else if (ident.name().equalsIgnoreCase("zcell")) GraftZOrder.ZCellFunction
    else {
      val dir = tableDir(ident)
      if (GraftFunctions.exists(dir))
        new GraftFunctions.Described(
          (catalogName +: ident.namespace().toSeq :+ ident.name()).mkString("."),
          GraftFunctions.read(dir))
      else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }
  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("root"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_catalog"))
    Files.createDirectories(root)
    // parse-time inline fast path: register the root so the per-statement
    // "any persisted function?" gate (GraftFunctions.anyPersisted) sees it
    GraftFunctions.registerRoot(root)
    // WRITE-side id stamping stays session-wide from init: every graft
    // segment must carry footer field ids from its very first write, or a
    // LATER RENAME COLUMN would find id-less segments and refuse (the
    // rename pre-flight, GraftFieldIds.segmentsWithoutIds). The READ-side
    // conf — the one that switches resolution semantics — engages lazily,
    // only when this session first touches a table actually flipped to id
    // resolution (GraftFieldIds.enableIfResolved at table load / RENAME):
    // sessions that never touch a renamed table keep virgin parquet READ
    // semantics for their non-graft reads (FieldIdScopeSpec pins this).
    GraftFieldIds.enableWriteConf()
  }

  override def name(): String = catalogName

  /** Opt into column DEFAULT values in DDL: the analyzer then routes
    * `CREATE/ALTER ... DEFAULT <lit>` through Column metadata
    * (CURRENT_DEFAULT for future INSERTs, EXISTS_DEFAULT frozen at ADD time
    * for pre-existing rows) — Spark's parquet readers fill EXISTS_DEFAULT
    * for files missing the column, so the evolution stays metadata-only
    * exactly like plain ADD COLUMN (ExistsDefaultProbeSpec pins the reader
    * mechanism; zone pruning stays conservative because pre-ADD segments
    * have no stats entry for the new column at all). */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // identity columns: the Column[] createTable override captures the
      // spec (the default conversion drops it silently) and GraftIdentity
      // allocates at write with commit-time high-water CAS
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private[catalog] def tableDirFor(ident: Identifier): Path = tableDir(ident)

  private[catalog] def rootDir: Path = root

  private def tableDir(ident: Identifier): Path =
    (ident.namespace() :+ ident.name()).foldLeft(root) { (p, part) =>
      // path-traversal guard: identifiers become directory names verbatim
      require(part.nonEmpty && part.forall(c => c.isLetterOrDigit || c == '_'),
        s"graft catalog identifiers must be [A-Za-z0-9_]+, got '$part'")
      p.resolve(part)
    }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(root)(_ resolve _)
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(namespace)
    GraftMeta.listDir(nsDir)
      .filter(p => Files.exists(p.resolve(GraftMeta.FileName)))
      // staged-invisible tables (in-flight CTAS) and REPLACE staging siblings
      // (`<t>.__staged__<id>`) are not tables: listing them would surface
      // names loadTable refuses and DROP cannot resolve
      .filterNot(p => p.getFileName.toString.contains(GraftStaging.Suffix))
      .filterNot(p => scala.util.Try(
        GraftStaging.isStaged(GraftMeta.read(p).props)).getOrElse(true))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(GraftMeta.FileName))) {
      // `SELECT * FROM graft.ns.t.snapshots` resolves here with the metadata
      // table's name appended to the data table's identifier (Iceberg's
      // convention): serve it from the parent if THAT is a table
      val parent = dir.getParent
      // staged invisibility covers the introspection faces too: a half-built
      // CTAS must not leak through t.segments / t.snapshots / t.changes
      def parentServes: Boolean = parent != null &&
        Files.exists(parent.resolve(GraftMeta.FileName)) &&
        !GraftStaging.isStaged(GraftMeta.read(parent).props)
      if (GraftMetadataTable.Kinds.contains(ident.name()) && parentServes)
        return new GraftMetadataTable(catalogName, ident, parent, ident.name())
      // `t.changes`: the row-level change feed (batch + streaming CDC read)
      if (ident.name() == GraftChanges.Name && parentServes)
        return new GraftChangesTable(catalogName, ident, parent)
      throw new NoSuchTableException(ident)
    }
    val t = new GraftTable(catalogName, ident, dir, pinnedSnapshot = None)
    // a staged CTAS's table is INVISIBLE until commitStagedChanges clears
    // the marker — atomic CREATE means no reader ever observes the half
    if (GraftStaging.isStaged(t.metaAtLoad.props)) throw new NoSuchTableException(ident)
    // LEGACY zc-suffix ambiguity gate (r20): segments written BEFORE the
    // encodeString zc-escape with a string partition value literally
    // matching `zc<digits>` keep the raw suffix, which today's parsers read
    // as a z-order CELL TAIL — partition-scoped reads/DML would permanently
    // miss them while new writes of the same value land under the escaped
    // form (%7Ac...), silently diverging. A cell tail is only legitimate on
    // a table that has clustered (the rewrite persists its routing spec),
    // so a PARTITIONED, never-clustered table carrying one is exactly the
    // legacy ambiguity: refuse loudly with the remediation instead of
    // serving a silently incomplete partition view. Cost: string checks
    // over the current segment list, only on partitioned tables.
    // NB `locally`: a bare `{...}` here would parse as an anonymous-class
    // BODY of the `new NoSuchTableException(ident)` on the previous line
    // and never execute (caught by LegacyZcSuffixSpec)
    locally {
      val meta = t.metaAtLoad
      if (meta.props.contains(GraftTable.PartitionByProp) &&
          !meta.props.contains(GraftZOrder.ColsProp)) {
        meta.snapshots.getOrElse(meta.current, Nil)
          .flatMap(GraftPartitions.suffixOf)
          .find(GraftPartitions.hasCellTail)
          .foreach { sfx =>
            throw new IllegalStateException(
              s"graft: table ${ident} carries segment suffix '$sfx', which " +
                "parses as a z-order cell tail, but the table has never been " +
                "clustered — this is a pre-escape segment whose string " +
                "partition value literally matches 'zc<digits>' (today's " +
                "writers escape it as %7Ac...). Partition-scoped reads and " +
                "DML would silently miss it. Remediate: rename the segment " +
                "directory to the canonical escaped suffix (zc... -> %7Ac...) " +
                "and update its name in _graft_commits/<current>, or copy the " +
                "data out via VERSION AS OF and recreate the table")
          }
      }
    }
    t
  }

  /** `VERSION AS OF <n>` time travel — a metadata lookup, not a restore.
    * A non-numeric version is a BRANCH name (`VERSION AS OF 'audit'` — the
    * Iceberg ref-read convention): the table pins the ref's staged state. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(GraftMeta.FileName))) throw new NoSuchTableException(ident)
    val meta = GraftMeta.read(dir) // read once: staged check + ref lookups
    // a staged CTAS's table is invisible on EVERY read path until commit
    if (GraftStaging.isStaged(meta.props)) throw new NoSuchTableException(ident)
    if (version.nonEmpty && version.forall(_.isDigit))
      new GraftTable(catalogName, ident, dir, pinnedSnapshot = Some(version.toLong))
    else {
      // named refs share one namespace (create_* procedures enforce it):
      // a branch resolves to base+staged, a TAG to its pinned snapshot
      GraftRefs.getTag(meta, version) match {
        case Some(snap) =>
          require(meta.snapshots.contains(snap),
            s"graft: tag '$version' pins snapshot $snap which no longer exists " +
              "(rolled back past it?) — drop_tag and re-create")
          new GraftTable(catalogName, ident, dir, pinnedSnapshot = Some(snap))
        case None =>
          new GraftTable(catalogName, ident, dir, pinnedSnapshot = None,
            pinnedRef = Some(version))
      }
    }
  }

  /** `TIMESTAMP AS OF <ts>` time travel: Spark hands the requested instant in
    * MICROSECONDS since epoch; resolve it to the newest snapshot whose commit
    * time (stamped at commit, millisecond wall clock) is not after it — the
    * Delta/Iceberg as-of-timestamp contract. Same zero-cost metadata lookup
    * as VERSION AS OF. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(GraftMeta.FileName))) throw new NoSuchTableException(ident)
    val meta = GraftMeta.read(dir)
    // a staged CTAS's table is invisible on EVERY read path until commit
    if (GraftStaging.isStaged(meta.props)) throw new NoSuchTableException(ident)
    val tsMs = Math.floorDiv(timestampMicros, 1000L)
    val candidates = meta.snapshotTimes.filter(_._2 <= tsMs).keys
    require(candidates.nonEmpty,
      s"graft: no snapshot of ${ident} committed at or before timestamp " +
        s"$tsMs ms (earliest is ${meta.snapshotTimes.values.minOption.getOrElse(-1L)} ms)")
    new GraftTable(catalogName, ident, dir, pinnedSnapshot = Some(candidates.max))
  }

  // the Column[] variant is overridden too: the default conversion DROPS
  // IdentityColumnSpec silently, so identity columns are captured here as
  // graft.identity props before delegating through the same conversion
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val (schema, withId) = GraftCatalog.captureColumns(columns, properties)
    createTable(ident, schema, partitions, withId)
  }

  // the StructType variant is the root of TableCatalog's default-method chain
  // (TableInfo → Column[] → here), so one override covers every call site
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    createAt(tableDir(ident), ident, schema, partitions, properties, stagedAtMs = None)

  /** The CREATE core, parameterized by target directory so atomic staged
    * CTAS/RTAS (StagingTableCatalog) can build a full graft table in a
    * staging location with identical validation. `stagedAtMs` marks the meta
    * as staged-invisible (loadTable refuses it until commitStagedChanges). */
  private def createAt(dir: Path, ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String],
      stagedAtMs: Option[Long]): GraftTable = {
    // identity partitioning (`PARTITIONED BY (col)`) or ONE hash-bucket
    // transform (`PARTITIONED BY (bucket(n, col))`, GraftBucket) — temporal
    // transforms stay refused (a derived day/hour column away).
    val bucketSpec: Option[GraftBucket.Spec] = partitions.collectFirst {
      case t if t.name() == "bucket" =>
        require(partitions.length == 1,
          "graft catalog: bucket partitioning does not combine with other " +
            "partition transforms")
        val col = t.references()(0).fieldNames() match {
          case Array(c) => c
          case p => throw new IllegalArgumentException(
            s"graft catalog: bucket over nested path '${p.mkString(".")}' not supported")
        }
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] => l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"graft catalog: bucket transform carries no bucket count: $t"))
        require(n > 0 && n <= (1 << 20), s"graft catalog: bucket count $n out of range")
        val field = schema.fields.find(_.name.equalsIgnoreCase(col)).getOrElse(
          throw new IllegalArgumentException(s"graft catalog: unknown bucket column '$col'"))
        require(GraftBucket.supportedType(field.dataType),
          s"graft catalog: bucket column '$col' has unsupported type " +
            s"${field.dataType.simpleString} (integral/string/date only)")
        // the name is persisted in the 'col,n' graft.bucket-by property — a
        // comma (or other unsafe byte) would corrupt the split; same charset
        // rule as identity partition columns
        require(field.name.matches("[A-Za-z0-9_.\\-]+"),
          s"graft catalog: bucket column name '${field.name}' must match [A-Za-z0-9_.-]+")
        GraftBucket.Spec(field.name, n)
    }
    val partCols = partitions.filter(_ => bucketSpec.isEmpty).map { t =>
      require(t.name() == "identity" && t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1,
        s"graft catalog: only identity PARTITIONED BY (col) or bucket(n, col) " +
          s"is supported, got $t")
      val c = t.references()(0).fieldNames()(0)
      val field = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"graft catalog: unknown partition column '$c'"))
      require(GraftPartitions.supportedType(field.dataType),
        s"graft catalog: partition column '$c' has unsupported type ${field.dataType} " +
          "(string/integral/boolean/date/decimal only — derive a column for timestamps)")
      // the names are persisted comma-joined in graft.partition-by (unlike
      // partition VALUES, which are %XX-escaped), so a name containing ','
      // or other unsafe characters would corrupt the property that
      // GraftPartitions.cols later splits on — same character set the
      // segment-name validation enforces
      require(field.name.matches("[A-Za-z0-9_.\\-]+"),
        s"graft catalog: partition column name '${field.name}' must match [A-Za-z0-9_.-]+")
      field.name
    }.toSeq
    if (Files.exists(dir.resolve(GraftMeta.FileName))) {
      // a crashed staged CTAS must not squat on the name forever: residue
      // older than the staging grace period is reclaimed (an ACTIVE staging
      // job is hours younger than this)
      if (!GraftStaging.reclaimIfStale(dir)) throw new TableAlreadyExistsException(ident)
    }
    require(!GraftViews.exists(dir),
      s"graft catalog: a VIEW named ${ident} already exists — DROP VIEW first")
    require(!GraftFunctions.exists(dir),
      s"graft catalog: a FUNCTION named ${ident} already exists — DROP FUNCTION first")
    Files.createDirectories(dir)
    // persist only the graft-owned properties; Spark adds bookkeeping
    // entries (owner, created-at) that don't belong in the contract
    val kept = properties.asScala.filter { case (k, _) => k.startsWith("write.") }.toMap
    kept.keys.foreach(k => require(
      k == GraftTable.ClusterByProp || k == GraftTable.OrderByProp,
      s"graft catalog: unknown write property '$k' (have ${GraftTable.ClusterByProp}, ${GraftTable.OrderByProp})"))
    kept.values.flatMap(_.split(',')).foreach(c => require(schema.fieldNames.contains(c.trim),
      s"graft catalog: write property references unknown column '${c.trim}'"))
    val dmlModes = GraftDv.ModeProps.flatMap { p =>
      Option(properties.get(p)).map { m =>
        require(m == GraftDv.ModeCow || m == GraftDv.ModeMor,
          s"graft catalog: $p must be " +
            s"'${GraftDv.ModeCow}' or '${GraftDv.ModeMor}', got '$m'")
        p -> m
      }
    }.toMap
    // commit-time SUM harvest opt-in (validated lazily per schema — '*' or a
    // column list; non-integral/unknown names are simply never harvested)
    val sumsProp = Option(properties.get(SegmentStats.SumsProp))
      .map(v => SegmentStats.SumsProp -> v).toMap
    // commit-time NDV-sketch harvest opt-in (same lazy per-schema validation)
    val ndvProp = Option(properties.get(SegmentStats.NdvProp))
      .map(v => SegmentStats.NdvProp -> v).toMap
    // commit-time KLL quantile-sketch harvest opt-in (same lazy validation)
    val kllProp = Option(properties.get(SegmentStats.KllProp))
      .map(v => SegmentStats.KllProp -> v).toMap
    // CHECK constraints: validated NOW (parse + analyze against the schema)
    // so a broken check can never become a property the writers then fail on
    val checkProps = properties.asScala.filter(_._1.startsWith(GraftChecks.Prefix)).toMap
    checkProps.foreach { case (k, sql) =>
      GraftChecks.resolve(schema, k.stripPrefix(GraftChecks.Prefix), sql)
    }
    // GENERATED columns: validated NOW like checks (parse + analyze + type
    // cast-check + no generation chains) so a broken derivation can never
    // become a property the writers then fail on
    val genProps = properties.asScala.filter(_._1.startsWith(GraftGenerate.Prefix)).toMap
    if (genProps.nonEmpty) GraftGenerate.boundGens(schema, genProps)
    // bloom point-lookup index opt-in (validated lazily per schema — only
    // integral/string columns are ever harvested)
    val bloomProp = Seq(GraftBloom.Prop, GraftBloom.FppProp)
      .flatMap(p => Option(properties.get(p)).map(p -> _)).toMap
    // IDENTITY columns (captured by the Column[] override, or user-supplied
    // props): validated NOW — columns exist and are nullable BIGINT, and the
    // surfaces allocation cannot ride are refused at the door
    val identityProps = properties.asScala
      .filter(_._1.startsWith(GraftIdentity.Prefix)).toMap
    if (identityProps.nonEmpty) {
      GraftIdentity.of(identityProps, schema).foreach { s =>
        val f = schema.fields(s.ordinal)
        GraftIdentity.validateCreate(s.col, f.dataType, f.nullable, s.step)
      }
      // partitioned (and bucketed) identity tables are supported since r17:
      // allocation wraps outside GraftPartitionedWrite's fan-out router and
      // the high-water CAS rides commitMany (IdentityColumnsSpec + q297).
      // Merge-on-read DML is supported since r19 on BOTH modes: MOR deletes
      // append no rows, the MOR upsert mints for NULL ids with a propCas
      // rider on its vector+append commit (GraftIdentity.fillDataFrame),
      // and the MERGE position-delta writer mints on its insert path
      // (GraftIdentity.RowAllocator inside GraftDeltaWriter).
    }
    // bucket tables refuse merge-on-read DML: MOR deltas append suffix-less
    // segments, breaking the bucket-pure layout SPJ depends on
    bucketSpec.foreach { _ =>
      require(!dmlModes.values.exists(_ == GraftDv.ModeMor),
        "graft catalog: bucket partitioning with merge-on-read DML is not supported")
    }
    val annotated = GraftFieldIds.annotate(schema)
    val props = kept ++ dmlModes ++ sumsProp ++ ndvProp ++ kllProp ++ checkProps ++ genProps ++
      bloomProp ++ identityProps ++
      stagedAtMs.map(t => GraftStaging.StagedProp -> t.toString) ++
      bucketSpec.map(b => GraftBucket.Prop -> s"${b.col},${b.n}") ++
      (if (partCols.nonEmpty) Map(GraftTable.PartitionByProp -> partCols.mkString(","))
       else Map.empty) +
      (GraftFieldIds.HighWaterProp -> GraftFieldIds.maxId(annotated).toString)
    // stable column ids from birth (depth-first through plain structs):
    // footers get stamped on every write, so a later RENAME COLUMN can flip
    // the table to id resolution without rewriting a single segment
    GraftMeta.write(dir, GraftMeta(annotated, current = 0L,
      snapshots = Map(0L -> Nil),
      props = props, snapshotTimes = Map(0L -> System.currentTimeMillis())))
    new GraftTable(catalogName, ident, dir, pinnedSnapshot = None)
  }

  /** Schema evolution, metadata-only — no segment is rewritten:
    *   - ADD COLUMN appends a nullable field; existing segments lack the
    *     column in their parquet footers and the scan (which always passes the
    *     TABLE schema) null-fills it, so old rows read as NULL — the
    *     Delta/Iceberg add-column contract.
    *   - DROP COLUMN removes the field; old files keep the physical column,
    *     which column pruning simply never requests again.
    * Renames/type changes need column-id mapping (name-based resolution would
    * silently null a renamed column) and are rejected, honestly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(GraftMeta.FileName))) throw new NoSuchTableException(ident)
    // ADD CONSTRAINT validates the FULL existing history first (the Delta
    // ADD CONSTRAINT contract: a check that admits the table's past is the
    // only check worth trusting) — the scan runs OUTSIDE the meta lock
    // against a pinned snapshot, and the mutate below CAS-requires that
    // snapshot to still be current
    val checkAdds = changes.collect {
      case set: TableChange.SetProperty if set.property().startsWith(GraftChecks.Prefix) =>
        set.property().stripPrefix(GraftChecks.Prefix) -> set.value()
    }
    val checkValidatedAt: Option[(Long, Map[String, String])] =
      if (checkAdds.isEmpty) None else {
      val spark = SparkSession.active
      val pre = GraftMeta.read(dir)
      // WAP branches are publishable state too: fast_forward's only guard is
      // `base == current`, which this ALTER does not move — so rows staged on
      // a branch BEFORE the constraint lands would publish unchecked. Validate
      // every ref's staged-only segments alongside main (staged segments are
      // plain appends — branch DML is refused — so no delete vectors apply),
      // and CAS below on the ref properties so a concurrent stage retries.
      val mainSegs = pre.snapshots.getOrElse(pre.current, Nil)
      // staged-only = each ref's dirs minus its OWN base snapshot's segments.
      // Subtracting CURRENT main instead is wrong once main moves past the
      // fork (compact/DML): the lagging base's segments would be re-validated
      // as "staged" — and read with NO delete vectors (the base's DVs apply
      // to them), resurrecting deleted rows into spurious CHECK refusals. A
      // base-lagging branch can never fast_forward anyway (base != current),
      // so only the true staged appends — which carry no DVs by construction,
      // branch DML being refused — need checking.
      val stagedSegs = GraftRefs.all(pre).valuesIterator.flatMap { ref =>
        // a ref whose base snapshot vanished from metadata would make the
        // WHOLE dir list look staged and re-validate base residue without its
        // delete vectors (the exact spurious-refusal bug the base-subtraction
        // fixes) — expire_snapshots protects ref bases, so absence is
        // corruption: fail loudly instead of guessing
        val baseSegs = pre.snapshots.getOrElse(ref.base,
          throw new IllegalStateException(
            s"graft catalog: branch ref base snapshot ${ref.base} is missing " +
              "from table metadata — refusing to validate staged segments " +
              "against a corrupt ref")).toSet
        ref.dirs.filterNot(baseSegs)
      }.toSeq.distinct.filterNot(mainSegs.contains)
      checkAdds.foreach { case (name, sql) =>
        GraftChecks.resolve(pre.schema, name, sql) // parse + analyze + bind
        if (mainSegs.nonEmpty) {
          val live = GraftDv.readLive(spark, dir, pre.readSchema, mainSegs,
            GraftDv.forSegments(pre, pre.current, mainSegs))
          // violation ⇔ definitely FALSE (SQL CHECK: NULL admits)
          val bad = live.where(s"coalesce(($sql), true) = false").count()
          require(bad == 0L,
            s"graft catalog: cannot add CHECK constraint '$name' ($sql): " +
              s"$bad existing row(s) violate it — clean the data first " +
              "(delete_where the violations or fix them with update_where)")
        }
        if (stagedSegs.nonEmpty) {
          val staged = GraftDv.readLive(spark, dir, pre.readSchema, stagedSegs, Map.empty)
          val bad = staged.where(s"coalesce(($sql), true) = false").count()
          require(bad == 0L,
            s"graft catalog: cannot add CHECK constraint '$name' ($sql): " +
              s"$bad row(s) staged on a WAP branch violate it — fast_forward " +
              "would publish them unchecked; fix or drop_branch first")
        }
      }
      Some((pre.current, pre.props.filter(_._1.startsWith(GraftRefs.Prefix))))
    }
    GraftMeta.mutate(dir) { meta =>
      checkValidatedAt.foreach { case (v, refProps) =>
        if (meta.current != v)
          throw new GraftConcurrentCommitException(
            s"graft catalog: table advanced (snapshot $v -> ${meta.current}) while " +
              "ADD CONSTRAINT was validating existing rows; retry")
        // refs mutated (branch created/staged/dropped) during validation ⇒
        // the staged-segment scan above may be stale; retry like a CAS miss
        if (meta.props.filter(_._1.startsWith(GraftRefs.Prefix)) != refProps)
          throw new GraftConcurrentCommitException(
            "graft catalog: branch refs changed while ADD CONSTRAINT was " +
              "validating staged segments; retry")
      }
      // identity columns are structurally load-bearing (allocation state keys
      // on the name; the type carries the domain) — evolution on them, manual
      // tampering with their props, and mode flips allocation can't ride are
      // refused up front
      val identityCols = meta.props.keys
        .filter(k => k.startsWith(GraftIdentity.Prefix) &&
          !k.startsWith(GraftIdentity.NextPrefix))
        .map(_.stripPrefix(GraftIdentity.Prefix).toLowerCase).toSet
      changes.foreach {
        case r: TableChange.RenameColumn
            if r.fieldNames().length == 1 && identityCols(r.fieldNames()(0).toLowerCase) =>
          throw new IllegalArgumentException(
            s"graft catalog: cannot rename identity column '${r.fieldNames()(0)}'")
        case d: TableChange.DeleteColumn
            if d.fieldNames().length == 1 && identityCols(d.fieldNames()(0).toLowerCase) =>
          throw new IllegalArgumentException(
            s"graft catalog: cannot drop identity column '${d.fieldNames()(0)}'")
        case u: TableChange.UpdateColumnType
            if u.fieldNames().length == 1 && identityCols(u.fieldNames()(0).toLowerCase) =>
          throw new IllegalArgumentException(
            s"graft catalog: cannot retype identity column '${u.fieldNames()(0)}'")
        case s: TableChange.SetProperty if s.property().startsWith(GraftIdentity.Prefix) =>
          throw new IllegalArgumentException(
            s"graft catalog: '${s.property()}' is engine-owned allocation state")
        case rm: TableChange.RemoveProperty if rm.property().startsWith(GraftIdentity.Prefix) =>
          throw new IllegalArgumentException(
            s"graft catalog: '${rm.property()}' is engine-owned allocation state")
        // the persisted z-order routing spec is engine-owned too: a planted
        // or deleted spec would misroute every later write
        case s: TableChange.SetProperty if s.property().startsWith("graft.zorder.") =>
          throw new IllegalArgumentException(
            s"graft catalog: '${s.property()}' is engine-owned clustering state " +
              "(rewrite_clustered maintains it)")
        case rm: TableChange.RemoveProperty if rm.property().startsWith("graft.zorder.") =>
          throw new IllegalArgumentException(
            s"graft catalog: '${rm.property()}' is engine-owned clustering state")
        // identity + merge-on-read (either mode) is supported since r19:
        // the upsert procedure and the MERGE position-delta writer both
        // allocate for NULL ids with propCas high-water riders
        // partition evolution on identity tables is fine since r17: the
        // partitioned writer allocates exactly like the plain one
        case _ => ()
      }
      // bucket tables: the bucket SOURCE column is structurally load-bearing
      // (its values hashed into the layout) — renaming it breaks the stored
      // transform reference, retyping changes hash inputs (beyond the
      // long-promoted integral widens), dropping it orphans the layout; the
      // bucket spec itself and partition evolution are engine-owned/refused
      GraftBucket.of(meta.props).foreach { b =>
        changes.foreach {
          case r: TableChange.RenameColumn
              if r.fieldNames().sameElements(Array(b.col)) =>
            throw new IllegalArgumentException(
              s"graft catalog: cannot rename bucket source column '${b.col}'")
          case d: TableChange.DeleteColumn
              if d.fieldNames().sameElements(Array(b.col)) =>
            throw new IllegalArgumentException(
              s"graft catalog: cannot drop bucket source column '${b.col}'")
          case u: TableChange.UpdateColumnType
              if u.fieldNames().sameElements(Array(b.col)) &&
                !(Seq(org.apache.spark.sql.types.ByteType,
                    org.apache.spark.sql.types.ShortType,
                    org.apache.spark.sql.types.IntegerType)
                  .contains(meta.schema.fields(
                    meta.schema.fieldNames.indexWhere(_.equalsIgnoreCase(b.col))).dataType) &&
                  Seq(org.apache.spark.sql.types.ShortType,
                    org.apache.spark.sql.types.IntegerType,
                    org.apache.spark.sql.types.LongType).contains(u.newDataType())) =>
            throw new IllegalArgumentException(
              s"graft catalog: cannot retype bucket source column '${b.col}' " +
                "beyond integral widening (the hash promotes integrals to LONG, " +
                "so only those preserve the bucket layout)")
          case s: TableChange.SetProperty
              if s.property() == GraftBucket.Prop ||
                s.property() == GraftTable.PartitionByProp =>
            throw new IllegalArgumentException(
              s"graft catalog: '${s.property()}' is engine-owned bucket layout " +
                "(partition evolution of bucket tables is not supported)")
          case rm: TableChange.RemoveProperty if rm.property() == GraftBucket.Prop =>
            throw new IllegalArgumentException(
              s"graft catalog: '${rm.property()}' is engine-owned bucket layout")
          case s: TableChange.SetProperty
              if GraftDv.ModeProps(s.property()) && s.value() == GraftDv.ModeMor =>
            throw new IllegalArgumentException(
              "graft catalog: bucket partitioning with merge-on-read DML is not supported")
          case _ => ()
        }
      }
      // z-order ROUTING columns (GraftZOrder): their values feed the
      // persisted normalization bounds + split points, so dropping one or
      // widening date->timestamp_ntz (a DOMAIN change: days -> micros)
      // breaks routing for every later write — refuse with the remediation;
      // integral widenings keep the long domain and renames re-key the
      // props through the name-list follow below
      GraftZOrder.of(meta.props).foreach { z =>
        changes.foreach {
          case dl: TableChange.DeleteColumn
              if dl.fieldNames().length == 1 &&
                z.cols.exists(_.equalsIgnoreCase(dl.fieldNames()(0))) =>
            throw new IllegalArgumentException(
              s"graft catalog: cannot drop z-order routing column " +
                s"'${dl.fieldNames()(0)}' — re-run rewrite_clustered with " +
                "different columns first")
          case u: TableChange.UpdateColumnType
              if u.fieldNames().length == 1 &&
                z.cols.exists(_.equalsIgnoreCase(u.fieldNames()(0))) &&
                u.newDataType() == org.apache.spark.sql.types.TimestampNTZType =>
            throw new IllegalArgumentException(
              s"graft catalog: cannot widen z-order routing column " +
                s"'${u.fieldNames()(0)}' to timestamp_ntz — the persisted " +
                "routing bounds are in the date domain; re-run " +
                "rewrite_clustered first")
          case _ => ()
        }
      }
      var dropped = meta.props.get(GraftTable.DroppedColumnsProp)
        .map(_.split(',').toSet).getOrElse(Set.empty[String])
      var setProps = Map.empty[String, String]
      var removedProps = Set.empty[String]
      var colRenames = List.empty[(String, String)] // old -> new, this ALTER
      var zstatDayToMicros = List.empty[String] // date->ntz widened columns
      // lossless metadata-only widenings — shared by the top-level and
      // nested ALTER COLUMN TYPE arms (old segments keep narrow physical
      // columns; Spark's parquet readers upcast natively at read time)
      def widens(from: org.apache.spark.sql.types.DataType,
                 to: org.apache.spark.sql.types.DataType): Boolean = (from, to) match {
        case (a, b) if a == b => true
        case (org.apache.spark.sql.types.ByteType,
              org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.LongType) => true
        case (org.apache.spark.sql.types.ShortType,
              org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.LongType) => true
        case (org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType) => true
        case (org.apache.spark.sql.types.FloatType,
              org.apache.spark.sql.types.DoubleType) => true
        case (org.apache.spark.sql.types.DateType,
              org.apache.spark.sql.types.TimestampNTZType) => true
        case _ => false
      }
      val newSchema = changes.foldLeft(meta.schema) { (sch, ch) =>
        ch match {
          // ------------------------------------------------------------------
          // NESTED-path arms (fieldNames length > 1): struct members carry
          // their own stable field ids (GraftFieldIds.annotate recurses), so
          // member rename/widen/add/drop are metadata-only exactly like their
          // top-level siblings — NestedFieldIdProbeSpec pins the parquet
          // mechanisms (member rename-by-id, new-member null-fill, member
          // widening upcast). Paths may only traverse plain struct members;
          // collection elements stay name-resolved (updateParent refuses).
          // Nested members are never partition/layout/zone/bloom columns, so
          // none of the top-level bookkeeping applies.
          // ------------------------------------------------------------------
          case ren: TableChange.RenameColumn if ren.fieldNames().length > 1 =>
            val path = ren.fieldNames().toSeq
            val pathStr = path.mkString(".")
            val to = ren.newName()
            val toPath = (path.init :+ to).mkString(".")
            require(GraftFieldIds.fieldAt(sch, path).isDefined,
              s"graft catalog: no column '$pathStr' to rename")
            // same v2-reader hole as top-level struct renames: a renamed
            // GROUP's members null-fill (V2RenameProbeSpec) — leaf members
            // of any non-struct type rename fine
            require(!GraftFieldIds.fieldAt(sch, path).get.dataType.isInstanceOf[StructType],
              s"graft catalog: cannot rename struct-typed member '$pathStr' — " +
                "Spark's v2 parquet reader does not id-resolve members of a " +
                "renamed group (V2RenameProbeSpec); CTAS instead")
            require(to.matches("[A-Za-z0-9_]+"),
              s"graft catalog: new member name '$to' must match [A-Za-z0-9_]+")
            require(!dropped.contains(toPath),
              s"graft catalog: member '$toPath' was previously dropped and cannot be reused")
            require(GraftFieldIds.fullyAnnotated(sch),
              "graft catalog: table predates recursive column ids — nested RENAME " +
                "needs field-id resolution at every level; recreate or CTAS the table")
            val liveSegsN = (meta.snapshots.valuesIterator.flatten ++
              GraftRefs.all(meta).valuesIterator.flatMap(_.dirs)).toSeq.distinct
            val idlessN = GraftFieldIds.segmentsWithoutIds(dir, liveSegsN)
            require(idlessN.isEmpty,
              s"graft catalog: segments ${idlessN.mkString(", ")} carry no parquet " +
                "footer field ids at every struct level — id resolution would " +
                "null-fill the renamed member there; compact or rewrite those " +
                "segments first")
            // CHECK / GENERATED expressions referencing the member (or
            // anything under it) would silently bind nothing after the
            // rename; refuse. Attribute paths are compared prefix-wise.
            val parserN = SparkSession.active.sessionState.sqlParser
            val lowerPath = path.map(_.toLowerCase)
            def refPaths(sql: String): Seq[Seq[String]] = scala.util.Try(
              parserN.parseExpression(sql).collect {
                case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                  a.nameParts.map(_.toLowerCase)
              }).getOrElse(Seq(lowerPath))
            meta.props.foreach { case (k, v) =>
              if (k.startsWith(GraftChecks.Prefix) || k.startsWith(GraftGenerate.Prefix))
                require(!refPaths(v).exists(_.take(lowerPath.length) == lowerPath),
                  s"graft catalog: property '$k' references '$pathStr' — drop " +
                    "and re-add it around the rename")
            }
            setProps += GraftFieldIds.ResolveProp -> pathStr
            // nested leaves carry zone entries keyed by dot-path — re-key
            // them through the rename like a top-level column's
            colRenames ::= (pathStr -> toPath)
            GraftFieldIds.updateParent(sch, path, parent => {
              require(!parent.fieldNames.exists(_.equalsIgnoreCase(to)),
                s"graft catalog: member '$toPath' already exists")
              StructType(parent.fields.map(f =>
                if (f.name.equalsIgnoreCase(path.last)) f.copy(name = to) else f))
            })
          case add: TableChange.AddColumn if add.fieldNames().length > 1 =>
            val path = add.fieldNames().toSeq
            val pathStr = path.mkString(".")
            val leaf = path.last
            require(add.isNullable,
              s"graft catalog: added member '$pathStr' must be nullable (existing rows null-fill)")
            require(add.position() == null,
              "graft catalog: ADD COLUMN appends at the end (FIRST/AFTER not supported)")
            require(add.defaultValue() == null,
              s"graft catalog: DEFAULT on nested member '$pathStr' not supported — " +
                "Spark's default-fill machinery is top-level-only")
            require(leaf.matches("[A-Za-z0-9_]+"),
              s"graft catalog: new member name '$leaf' must match [A-Za-z0-9_]+")
            require(!dropped.contains(pathStr),
              s"graft catalog: member '$pathStr' was previously dropped and cannot be re-added")
            // fresh ids for the member and (if a struct) its whole subtree;
            // old files null-fill the new member under name AND id resolution
            val (annotated, nextFree) = GraftFieldIds.annotateField(
              StructField(leaf, add.dataType(), nullable = true),
              GraftFieldIds.nextId(sch, meta.props))
            setProps += GraftFieldIds.HighWaterProp -> (nextFree - 1).toString
            GraftFieldIds.updateParent(sch, path, parent => {
              require(!parent.fieldNames.exists(_.equalsIgnoreCase(leaf)),
                s"graft catalog: member '$pathStr' already exists")
              StructType(parent.fields :+ annotated)
            })
          case upd: TableChange.UpdateColumnType if upd.fieldNames().length > 1 =>
            val path = upd.fieldNames().toSeq
            val pathStr = path.mkString(".")
            val leafF = GraftFieldIds.fieldAt(sch, path)
            require(leafF.isDefined, s"graft catalog: no column '$pathStr' to alter")
            require(widens(leafF.get.dataType, upd.newDataType()),
              s"graft catalog: cannot change member '$pathStr' from " +
                s"${leafF.get.dataType.simpleString} to ${upd.newDataType().simpleString} " +
                "— only lossless widenings (tinyint<smallint<int<bigint, " +
                "float->double, date->timestamp_ntz) are metadata-only; " +
                "anything else needs a rewrite")
            // nested members are never partition columns (no partition-type
            // gate), but their LEAVES carry dot-path zone entries — a
            // date->ntz widen must convert those domains exactly like a
            // top-level column's; parquet widening upcasts the narrow
            // physical member by name and by id alike (probe-pinned)
            if (leafF.get.dataType == org.apache.spark.sql.types.DateType &&
                upd.newDataType() == org.apache.spark.sql.types.TimestampNTZType)
              zstatDayToMicros ::= pathStr
            GraftFieldIds.updateParent(sch, path, parent =>
              StructType(parent.fields.map(f =>
                if (f.name.equalsIgnoreCase(path.last))
                  f.copy(dataType = upd.newDataType())
                else f)))
          case del: TableChange.DeleteColumn if del.fieldNames().length > 1 =>
            val path = del.fieldNames().toSeq
            val pathStr = path.mkString(".")
            if (GraftFieldIds.fieldAt(sch, path).isEmpty) {
              require(del.ifExists(), s"graft catalog: no column '$pathStr' to drop")
              sch
            } else {
              dropped += pathStr
              GraftFieldIds.updateParent(sch, path, parent => {
                require(parent.fields.length > 1,
                  s"graft catalog: cannot drop the last member of " +
                    s"'${path.init.mkString(".")}' (parquet groups cannot be empty)")
                StructType(parent.fields.filterNot(_.name.equalsIgnoreCase(path.last)))
              })
            }
          // RENAME COLUMN — metadata-only, via STABLE FIELD IDS (the Iceberg
          // v2 mechanism on Spark's native parquet field-id machinery): the
          // field keeps its id, the table flips to id resolution
          // (GraftFieldIds.ResolveProp), and pre-rename segments read the old
          // physical column BY ID with zero data rewritten. Pre-flight proves
          // every live segment's footers carry ids — a file without them
          // would refuse at read time, so refuse the DDL instead. (MVs
          // defined over the renamed column are NOT rewritten: refresh_mv
          // fails loudly on the stale name, the Iceberg contract.)
          case ren: TableChange.RenameColumn =>
            val from = ren.fieldNames()(0)
            val to = ren.newName()
            val idx = sch.fieldNames.indexOf(from)
            require(idx >= 0, s"graft catalog: no column '$from' to rename")
            // Spark 4.1's V2 parquet reader does not descend into a RENAMED
            // group: a struct-typed column renamed by id reads its members
            // as NULL (V2RenameProbeSpec pins it; primitives and arrays
            // resolve fine). Refuse rather than silently null-fill;
            // remediation: CTAS under the new name.
            require(!sch.fields(idx).dataType.isInstanceOf[StructType],
              s"graft catalog: cannot rename struct-typed column '$from' — " +
                "Spark's v2 parquet reader does not id-resolve members of a " +
                "renamed group (V2RenameProbeSpec); CTAS under the new name instead")
            require(!sch.fieldNames.exists(_.equalsIgnoreCase(to)),
              s"graft catalog: column '$to' already exists")
            // zone entries / property lists delimit on ':' ',' — and the
            // partition path requires this charset too; renames must not
            // smuggle in a name CREATE would refuse
            require(to.matches("[A-Za-z0-9_]+"),
              s"graft catalog: new column name '$to' must match [A-Za-z0-9_]+")
            require(!dropped.contains(to),
              s"graft catalog: column '$to' was previously dropped and cannot be reused")
            require(sch.fields.forall(GraftFieldIds.hasId),
              "graft catalog: table predates stable column ids — RENAME needs " +
                "field-id resolution; recreate or CTAS the table")
            // live segments = every retained snapshot + every branch ref:
            // time travel and branch reads use the CURRENT schema, so all of
            // them must survive id resolution
            val liveSegs = (meta.snapshots.valuesIterator.flatten ++
              GraftRefs.all(meta).valuesIterator.flatMap(_.dirs)).toSeq.distinct
            val idless = GraftFieldIds.segmentsWithoutIds(dir, liveSegs)
            require(idless.isEmpty,
              s"graft catalog: segments ${idless.mkString(", ")} carry no parquet " +
                "footer field ids (imported by add_files or written by an " +
                "engine without id stamping) — id resolution would refuse to " +
                "read them; compact or rewrite those segments first")
            // CHECK / GENERATED expressions reference columns BY NAME in
            // property SQL — renaming underneath them would silently bind
            // nothing (or the wrong column) at the next write; refuse
            val parser = SparkSession.active.sessionState.sqlParser
            def refs(sql: String): Set[String] = scala.util.Try(
              parser.parseExpression(sql).collect {
                case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                  a.nameParts.head.toLowerCase
              }.toSet).getOrElse(Set(from.toLowerCase))
            meta.props.foreach { case (k, v) =>
              if (k.startsWith(GraftChecks.Prefix))
                require(!refs(v).contains(from.toLowerCase),
                  s"graft catalog: CHECK constraint '${k.stripPrefix(GraftChecks.Prefix)}' " +
                    s"references '$from' — drop and re-add it around the rename")
              if (k.startsWith(GraftGenerate.Prefix) &&
                  k != GraftGenerate.Prefix + from)
                require(!refs(v).contains(from.toLowerCase),
                  s"graft catalog: generated column '${k.stripPrefix(GraftGenerate.Prefix)}' " +
                    s"derives from '$from' — drop and re-add it around the rename")
            }
            // a GENERATED column renames by re-keying its own property
            meta.props.get(GraftGenerate.Prefix + from).foreach { genSql =>
              removedProps += GraftGenerate.Prefix + from
              setProps += (GraftGenerate.Prefix + to) -> genSql
            }
            // name lists in layout/stat/index properties follow the rename
            Seq(GraftTable.ClusterByProp, GraftTable.OrderByProp,
                GraftTable.PartitionByProp, SegmentStats.SumsProp,
                SegmentStats.NdvProp, SegmentStats.KllProp,
                GraftZOrder.ColsProp, GraftBloom.Prop).foreach { p =>
              (setProps.get(p) orElse meta.props.get(p)).foreach { v =>
                val parts = v.split(',').map(_.trim)
                if (parts.exists(_.equalsIgnoreCase(from)))
                  setProps += p -> parts.map(t =>
                    if (t.equalsIgnoreCase(from)) to else t).mkString(",")
              }
            }
            setProps += GraftFieldIds.ResolveProp -> from
            colRenames ::= (from -> to)
            StructType(sch.fields.updated(idx, sch.fields(idx).copy(name = to)))
          // the DELETE/UPDATE implementation is switchable per table:
          // existing delete vectors keep applying either way (mode only
          // selects how FUTURE DML executes)
          case set: TableChange.SetProperty
              if GraftDv.ModeProps(set.property()) =>
            require(set.value() == GraftDv.ModeCow || set.value() == GraftDv.ModeMor,
              s"graft catalog: ${set.property()} must be " +
                s"'${GraftDv.ModeCow}' or '${GraftDv.ModeMor}', got '${set.value()}'")
            setProps += set.property() -> set.value()
            sch
          // commit-time stats-harvest opt-ins (SUMs, NDV sketches) apply to
          // FUTURE segments only; pre-existing stat-less segments simply keep
          // the corresponding pushdown/report refused
          case set: TableChange.SetProperty
              if set.property() == SegmentStats.SumsProp ||
                set.property() == SegmentStats.NdvProp ||
                set.property() == SegmentStats.KllProp =>
            setProps += set.property() -> set.value()
            sch
          case rm: TableChange.RemoveProperty
              if rm.property() == SegmentStats.SumsProp ||
                rm.property() == SegmentStats.NdvProp ||
                rm.property() == SegmentStats.KllProp =>
            removedProps += rm.property()
            sch
          // PARTITION EVOLUTION: the new spec governs FUTURE writes only —
          // existing segments keep their own (partition-pure) layout and stay
          // correct under every value-based path (zone-map pruning, COW DML
          // discovery, MOR vectors). Each evolution bumps the spec id, so new
          // suffixes are spec-qualified and can never collide with old ones;
          // the one suffix-KEYED operation (dynamic partition overwrite) is
          // refused while mixed-layout segments remain (see commitMany).
          // Rewrites migrate incrementally: COW delete/update re-route
          // touched rows by the current spec, and a full INSERT OVERWRITE
          // rewrites the whole table under it.
          case set: TableChange.SetProperty
              if set.property() == GraftTable.PartitionByProp =>
            val names = set.value().split(',').map(_.trim).filter(_.nonEmpty).toSeq
            require(names.nonEmpty,
              "graft catalog: empty partition spec — use UNSET TBLPROPERTIES to departition")
            val cased = GraftPartitions.validateCols(names, sch)
            if (meta.props.get(GraftTable.PartitionByProp).contains(cased.mkString(","))) sch
            else {
              setProps += GraftTable.PartitionByProp -> cased.mkString(",")
              setProps += GraftPartitions.SpecIdProp ->
                (GraftPartitions.specId(meta.props) + 1L).toString
              sch
            }
          case rm: TableChange.RemoveProperty
              if rm.property() == GraftTable.PartitionByProp =>
            if (meta.props.contains(GraftTable.PartitionByProp)) {
              removedProps += GraftTable.PartitionByProp
              setProps += GraftPartitions.SpecIdProp ->
                (GraftPartitions.specId(meta.props) + 1L).toString
            }
            sch
          // ADD CONSTRAINT (validated against the full history above) /
          // DROP CONSTRAINT — future writes simply stop checking it
          case set: TableChange.SetProperty
              if set.property().startsWith(GraftChecks.Prefix) =>
            setProps += set.property() -> set.value()
            sch
          case rm: TableChange.RemoveProperty
              if rm.property().startsWith(GraftChecks.Prefix) =>
            require(meta.props.contains(rm.property()),
              s"graft catalog: no CHECK constraint '${rm.property().stripPrefix(GraftChecks.Prefix)}' to drop")
            removedProps += rm.property()
            sch
          case add: TableChange.AddColumn =>
            val field = add.fieldNames()(0)
            require(add.isNullable,
              s"graft catalog: added column '$field' must be nullable (existing rows null-fill)")
            require(add.position() == null,
              "graft catalog: ADD COLUMN appends at the end (FIRST/AFTER not supported)")
            require(!sch.fieldNames.contains(field),
              s"graft catalog: column '$field' already exists")
            // re-adding a dropped name would be an unguarded TYPE change: old
            // segments still hold the previous physical column under this
            // name, and name-based parquet resolution would read it (crashing
            // on a type mismatch instead of null-filling). Needs column-id
            // mapping; refused like renames.
            require(!dropped.contains(field),
              s"graft catalog: column '$field' was previously dropped and cannot be re-added")
            // DEFAULT <literal>: CURRENT_DEFAULT governs future INSERTs
            // (analyzer-filled), EXISTS_DEFAULT is FROZEN NOW and fills the
            // column for pre-ADD segments at read time (Spark's parquet
            // readers apply it natively; later SET DEFAULT must not rewrite
            // history, hence two keys — the Delta/Iceberg contract)
            val metadata = Option(add.defaultValue()) match {
              case None => Metadata.empty
              case Some(dv) =>
                require(dv.getValue != null,
                  s"graft catalog: DEFAULT for '$field' must fold to a literal, " +
                    s"got '${dv.getSql}'")
                // EXISTS_DEFAULT stores the SQL of the CONSTANT-FOLDED literal,
                // not the user's expression text: a foldable-but-non-literal
                // default (e.g. CURRENT_DATE) re-evaluated at every read would
                // drift pre-ADD rows over time, violating the frozen-at-ADD
                // contract. CURRENT_DEFAULT keeps the original text (it governs
                // future INSERTs, where re-evaluation is the point).
                val frozen = org.apache.spark.sql.catalyst.expressions.Literal(
                  dv.getValue.value(), dv.getValue.dataType()).sql
                new MetadataBuilder()
                  .putString("EXISTS_DEFAULT", frozen)
                  .putString("CURRENT_DEFAULT", dv.getSql).build()
            }
            // fresh stable ids (never reused — the high-water prop keeps
            // dropped columns' ids retired); a struct-typed new column gets
            // ids for its whole subtree so its members evolve later too
            val (annotatedF, nextFree) = GraftFieldIds.annotateField(
              StructField(field, add.dataType(), nullable = true, metadata),
              GraftFieldIds.nextId(sch, meta.props))
            setProps += GraftFieldIds.HighWaterProp -> (nextFree - 1).toString
            StructType(sch.fields :+ annotatedF)
          // ALTER COLUMN ... TYPE: WIDENING-only, metadata-only (the
          // Delta/Iceberg type-widening contract): the schema type widens,
          // old segments keep their narrow physical columns, and Spark's
          // parquet readers upcast natively at read time
          // (TypeWideningProbeSpec pins the exact set). Narrowing or
          // repartitioning conversions are refused — they would need a
          // rewrite this DDL honestly does not run.
          case upd: TableChange.UpdateColumnType =>
            val field = upd.fieldNames()(0)
            val idx = sch.fieldNames.indexOf(field)
            require(idx >= 0, s"graft catalog: no column '$field' to alter")
            val f = sch.fields(idx)
            require(widens(f.dataType, upd.newDataType()),
              s"graft catalog: cannot change column '$field' from ${f.dataType.simpleString} " +
                s"to ${upd.newDataType().simpleString} — only lossless widenings " +
                "(tinyint<smallint<int<bigint, float->double, date->timestamp_ntz) " +
                "are metadata-only; anything else needs a rewrite")
            // a widened PARTITION column must still be a supported partition
            // type (date->timestamp_ntz would break the value-string contract)
            if (GraftPartitions.cols(meta.props).exists(_.equalsIgnoreCase(field)))
              require(GraftPartitions.supportedType(upd.newDataType()),
                s"graft catalog: '$field' is a partition column and " +
                  s"${upd.newDataType().simpleString} is not a supported partition type")
            // date -> timestamp_ntz changes the zone-stat DOMAIN (epoch days
            // -> micros): rewrite this column's entries exactly
            // (midnight*86400e6) so pruning stays CORRECT — stale day-domain
            // bounds compared against micro literals would wrongly prune
            if (f.dataType == org.apache.spark.sql.types.DateType &&
                upd.newDataType() == org.apache.spark.sql.types.TimestampNTZType)
              zstatDayToMicros ::= field
            StructType(sch.fields.updated(idx, f.copy(dataType = upd.newDataType())))
          // SET / DROP DEFAULT: CURRENT_DEFAULT moves (future INSERTs only);
          // EXISTS_DEFAULT never changes after ADD — rewriting it would
          // retroactively change what pre-ADD rows read as
          case upd: TableChange.UpdateColumnDefaultValue =>
            require(upd.fieldNames().length == 1,
              "graft catalog: DEFAULT on a nested member not supported — " +
                "Spark's default-fill machinery is top-level-only")
            val field = upd.fieldNames()(0)
            val idx = sch.fieldNames.indexOf(field)
            require(idx >= 0, s"graft catalog: no column '$field' to alter")
            val f = sch.fields(idx)
            val b = new MetadataBuilder().withMetadata(f.metadata)
            Option(upd.newCurrentDefault()) match {
              case Some(dv) if dv.getSql != null && dv.getSql.nonEmpty =>
                b.putString("CURRENT_DEFAULT", dv.getSql)
              case _ => b.remove("CURRENT_DEFAULT") // DROP DEFAULT
            }
            StructType(sch.fields.updated(idx, f.copy(metadata = b.build())))
          case del: TableChange.DeleteColumn =>
            val field = del.fieldNames()(0)
            if (!sch.fieldNames.contains(field)) {
              require(del.ifExists(), s"graft catalog: no column '$field' to drop")
              sch
            } else {
              require(sch.length > 1, "graft catalog: cannot drop the last column")
              // dropping a write-layout or partition column would brick every
              // future write (requiredDistribution/Ordering or the partition
              // splitter would reference a ghost column)
              val layoutCols = Seq(GraftTable.ClusterByProp, GraftTable.OrderByProp,
                  GraftTable.PartitionByProp)
                .flatMap(meta.props.get).flatMap(_.split(',')).map(_.trim).toSet
              require(!layoutCols.contains(field),
                s"graft catalog: column '$field' is referenced by a write-layout property and cannot be dropped")
              dropped += field
              StructType(sch.filterNot(_.name == field))
            }
          // COMMENT ON TABLE — Spark routes it as SetProperty("comment")
          // (IS NULL arrives as SetProperty("")). Pure documentation metadata.
          case set: TableChange.SetProperty if set.property() == "comment" =>
            if (Option(set.value()).exists(_.nonEmpty)) setProps += set.property() -> set.value()
            else removedProps += set.property()
            sch
          case rm: TableChange.RemoveProperty if rm.property() == "comment" =>
            removedProps += rm.property()
            sch
          // ALTER COLUMN ... COMMENT — documentation metadata on the field
          // (top-level or nested member); resolution is untouched, so this
          // is always metadata-only
          case upd: TableChange.UpdateColumnComment =>
            val path = upd.fieldNames().toSeq
            require(GraftFieldIds.fieldAt(sch, path).isDefined,
              s"graft catalog: no column '${path.mkString(".")}' to comment")
            GraftFieldIds.updateParent(sch, path, parent =>
              StructType(parent.fields.map { f =>
                if (!f.name.equalsIgnoreCase(path.last)) f
                else {
                  val b = new MetadataBuilder().withMetadata(f.metadata)
                  Option(upd.newComment()).filter(_.nonEmpty) match {
                    case Some(c) => b.putString("comment", c)
                    case None    => b.remove("comment")
                  }
                  f.copy(metadata = b.build())
                }
              }))
          case other =>
            throw new UnsupportedOperationException(
              s"graft catalog: unsupported ALTER TABLE change $other")
        }
      }
      val newProps = ((if (dropped.isEmpty) meta.props
        else meta.props +
          (GraftTable.DroppedColumnsProp -> dropped.toSeq.sorted.mkString(","))) --
        removedProps) ++ setProps
      // zone-map entries key per-column stats BY NAME inside the payload:
      // carry them through the rename (the data didn't change, so the stats
      // are still exact under the new name — dropping them would silently
      // cost every pre-rename segment its pruning). Undecodable entries pass
      // through unchanged (their old-name stats just stop pruning).
      val newZ =
        if (colRenames.isEmpty && zstatDayToMicros.isEmpty) meta.zstats
        else meta.zstats.map { case (seg, payload) =>
          seg -> scala.util.Try {
            val st = SegmentStats.decode(payload)
            SegmentStats.encode(st.copy(cols = st.cols.map { case (n, c) =>
              // colRenames was built by PREPENDING; fold in DDL order
              // (reverse) so chained renames in one ALTER (a->b then b->c)
              // compose to the final name instead of parking on a dead one.
              // Nested-member renames arrive as full dot-paths and match
              // exactly; struct renames (which would need a prefix re-key of
              // member entries) are refused outright — see the v2-reader
              // guard in the rename arms.
              val renamed = colRenames.reverse.foldLeft(n) { case (nn, (f, t)) =>
                if (nn == f) t else nn }
              val conv =
                if (zstatDayToMicros.contains(n) && c.kind == 'd')
                  // epoch days -> midnight micros, exact: the widened column
                  // compares against TIMESTAMP_NTZ micro literals now
                  c.copy(kind = 't',
                    min = c.min.map(v => (v.toLong * 86400000000L).toString),
                    max = c.max.map(v => (v.toLong * 86400000000L).toString))
                else c
              renamed -> conv
            }))
          }.getOrElse(payload)
        }
      meta.copy(schema = newSchema, props = newProps, zstats = newZ)
    }
    // post-commit, best-effort: follow the rename in the per-segment bloom
    // index FILES (`_bloom_<col>.bf`). A miss is only conservative (the probe
    // keeps the segment), so failures are ignored — never a failed ALTER.
    val renamed = changes.collect { case r: TableChange.RenameColumn
      if r.fieldNames().length == 1 => r.fieldNames()(0) -> r.newName() }
    if (renamed.nonEmpty) {
      GraftFieldIds.enableSessionConfs() // id resolution active from here on
      // the `_cdc` delta cache holds files written under PRE-rename names —
      // name-resolved reads would silently null-fill the renamed column;
      // drop the cache (it rematerializes from segments, id-correct, under
      // the current names on next use)
      GraftMeta.deleteRecursively(dir.resolve("_cdc"))
      val m = GraftMeta.read(dir)
      val segs = (m.snapshots.valuesIterator.flatten ++
        GraftRefs.all(m).valuesIterator.flatMap(_.dirs)).toSeq.distinct
      for ((from, to) <- renamed; seg <- segs) {
        val src = GraftBloom.fileFor(dir.resolve(seg).toString, from)
        val dst = GraftBloom.fileFor(dir.resolve(seg).toString, to)
        try if (Files.exists(src) && !Files.exists(dst)) Files.move(src, dst)
        catch { case _: java.io.IOException => () }
      }
    }
    loadTable(ident)
  }

  /** Maintenance procedures (`CALL graft.system.compact(...)` etc.) — see
    * GraftProcedures.scala. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"graft catalog: procedures live in the 'system' namespace, got ${ident.namespace().mkString(".")}")
    ident.name() match {
      case "compact"              => new CompactProcedure(this)
      case "expire_snapshots"     => new ExpireSnapshotsProcedure(this)
      case "delete_where"         => new DeleteWhereProcedure(this)
      case "update_where"         => new UpdateWhereProcedure(this)
      case "rewrite_deletes"      => new RewriteDeletesProcedure(this)
      case "rewrite_clustered"    => new RewriteClusteredProcedure(this)
      case "upsert"               => new UpsertProcedure(this)
      case "rollback_to_snapshot" => new RollbackProcedure(this)
      case "create_branch"        => new CreateBranchProcedure(this)
      case "drop_branch"          => new DropBranchProcedure(this)
      case "create_tag"           => new CreateTagProcedure(this)
      case "drop_tag"             => new DropTagProcedure(this)
      case "fast_forward"         => new FastForwardProcedure(this)
      case "create_mv"            => new CreateMvProcedure(this)
      case "refresh_mv"           => new RefreshMvProcedure(this)
      case "clone_table"          => new CloneTableProcedure(this)
      case "add_files"            => new AddFilesProcedure(this)
      case other =>
        throw new UnsupportedOperationException(s"graft catalog: no procedure '$other'")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array("system"), "compact"),
      Identifier.of(Array("system"), "delete_where"),
      Identifier.of(Array("system"), "expire_snapshots"),
      Identifier.of(Array("system"), "rewrite_clustered"),
      Identifier.of(Array("system"), "rewrite_deletes"),
      Identifier.of(Array("system"), "rollback_to_snapshot"),
      Identifier.of(Array("system"), "update_where"),
      Identifier.of(Array("system"), "upsert"))

  // --------------------------------------------------------------------------
  // ViewCatalog: persisted SQL views (GraftViews) — the stored TEXT re-analyzes
  // on every read in the creation-time catalog/namespace context, so
  // underlying table changes flow through and broken dependencies fail the
  // READ loudly (the standard SQL view contract). Views share the tables'
  // directory convention; a name serves at most one of table/view.
  // --------------------------------------------------------------------------
  override def listViews(namespace: String*): Array[Identifier] = {
    val nsDir = namespace.foldLeft(root)(_ resolve _)
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(namespace.toArray)
    GraftMeta.listDir(nsDir)
      .filter(p => GraftViews.exists(p))
      .map(p => Identifier.of(namespace.toArray, p.getFileName.toString))
      .toArray
  }

  override def loadView(ident: Identifier): View = {
    val dir = tableDir(ident)
    if (!GraftViews.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    new GraftView(ident, GraftViews.read(dir))
  }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo): View = {
    val ident = info.ident()
    val dir = tableDir(ident)
    if (Files.exists(dir.resolve(GraftMeta.FileName)))
      throw new TableAlreadyExistsException(ident) // a TABLE owns this name
    require(!GraftFunctions.exists(dir),
      s"graft catalog: a FUNCTION named ${ident} already exists — DROP FUNCTION first")
    val d = GraftViews.Def(info.sql(), info.currentCatalog(),
      info.currentNamespace().toSeq, info.schema(),
      info.queryColumnNames().toSeq, info.columnAliases().toSeq,
      info.columnComments().toSeq, info.properties().asScala.toMap)
    if (!GraftViews.createExclusive(dir, d))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    new GraftView(ident, d)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*): View = {
    val dir = tableDir(ident)
    if (!GraftViews.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    dir.toString.intern().synchronized {
      val d0 = GraftViews.read(dir)
      val d = changes.foldLeft(d0) { (d, ch) =>
        ch match {
          case set: org.apache.spark.sql.connector.catalog.ViewChange.SetProperty =>
            d.copy(props = d.props + (set.property() -> set.value()))
          case rm: org.apache.spark.sql.connector.catalog.ViewChange.RemoveProperty =>
            d.copy(props = d.props - rm.property())
          case other => throw new UnsupportedOperationException(
            s"graft catalog: unsupported ALTER VIEW change $other")
        }
      }
      GraftViews.overwrite(dir, d)
      new GraftView(ident, d)
    }
  }

  override def dropView(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!GraftViews.exists(dir)) false
    else {
      GraftMeta.deleteRecursively(dir)
      true
    }
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val src = tableDir(from)
    if (!GraftViews.exists(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    val dst = tableDir(to)
    if (Files.exists(dst))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(to)
    Files.createDirectories(dst.getParent)
    src.toString.intern().synchronized { Files.move(src, dst) }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!Files.exists(dir.resolve(GraftMeta.FileName))) false
    else {
      // a dropped MATERIALIZED VIEW deregisters from its source's rewrite
      // candidates (best-effort: the source may itself be gone already)
      val props = scala.util.Try(GraftMeta.read(dir).props).getOrElse(Map.empty)
      for {
        src <- props.get(GraftMv.SourceProp)
        parts = src.split('.').toSeq.filter(_.nonEmpty) if parts.nonEmpty
        srcDir = tableDir(Identifier.of(parts.init.toArray, parts.last))
        if Files.exists(srcDir.resolve(GraftMeta.FileName))
      } scala.util.Try(GraftMeta.mutate(srcDir) { m =>
        val mvName = (ident.namespace() :+ ident.name()).mkString(".")
        val kept = m.props.get(GraftMvRewrite.MvsProp).toSeq
          .flatMap(_.split(',')).map(_.trim)
          .filter(n => n.nonEmpty && n != mvName)
        if (kept.isEmpty) m.copy(props = m.props - GraftMvRewrite.MvsProp)
        else m.copy(props = m.props + (GraftMvRewrite.MvsProp -> kept.mkString(",")))
      })
      GraftMeta.deleteRecursively(dir)
      true
    }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = tableDir(from)
    if (!Files.exists(src.resolve(GraftMeta.FileName))) throw new NoSuchTableException(from)
    val dst = tableDir(to)
    if (Files.exists(dst)) throw new TableAlreadyExistsException(to)
    Files.createDirectories(dst.getParent)
    // same per-table lock as every commit path: a rename racing an in-flight
    // write would otherwise land between the parquet job commit and the meta
    // swap — the meta write would target the moved-away path and the append's
    // files would sit in the new dir unreferenced (a lost commit)
    src.toString.intern().synchronized {
      Files.move(src, dst)
    }
  }

  // ---------------------------------------------------------------------
  // StagingTableCatalog — atomic CTAS / CREATE OR REPLACE TABLE AS SELECT
  // (GraftStaging). The TableInfo variants are the roots of the default-
  // method chains, so these three overrides cover every call site.
  // ---------------------------------------------------------------------

  private def stagedSchemaAndProps(info: org.apache.spark.sql.connector.catalog.TableInfo)
    : (StructType, java.util.Map[String, String]) =
    GraftCatalog.captureColumns(info.columns(), info.properties())

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
    : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (schema, props) = stagedSchemaAndProps(info)
    val dir = tableDir(ident)
    // createAt enforces the exists/view collisions (reclaiming stale staged
    // residue); the staged marker keeps the table invisible until commit
    val t = createAt(dir, ident, schema, info.partitions(), props,
      stagedAtMs = Some(System.currentTimeMillis()))
    GraftStaging.stagedCreate(t, dir)
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
    : org.apache.spark.sql.connector.catalog.StagedTable = {
    val live = tableDir(ident)
    if (!Files.exists(live.resolve(GraftMeta.FileName)) ||
        GraftStaging.isStaged(GraftMeta.read(live).props))
      throw new NoSuchTableException(ident)
    stageReplaceAt(ident, live, info)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
    : org.apache.spark.sql.connector.catalog.StagedTable = {
    val live = tableDir(ident)
    if (Files.exists(live.resolve(GraftMeta.FileName)) &&
        !GraftStaging.isStaged(GraftMeta.read(live).props))
      stageReplaceAt(ident, live, info)
    else stageCreate(ident, info)
  }

  /** Replace path: the new table builds COMPLETELY in a sibling staging dir
    * (readers keep serving the live table), commitStagedChanges moves the
    * staged segments in (inert until referenced) and swaps schema+snapshot
    * in ONE meta mutate. REPLACE discards prior history — old snapshots,
    * refs, tags and delete vectors do not survive a table redefinition
    * (VERSION AS OF a pre-replace id fails loudly); the dead segment dirs
    * become orphans for expire_snapshots' aged sweep. */
  private def stageReplaceAt(ident: Identifier, live: Path,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
    : org.apache.spark.sql.connector.catalog.StagedTable = {
    val (schema, props) = stagedSchemaAndProps(info)
    // crashed earlier RTAS attempts left full staged copies in sibling dirs
    // no maintenance path ever visits — sweep the aged ones NOW (an active
    // staging job is minutes old and survives the grace check)
    GraftStaging.reclaimStaleSiblings(live)
    val staging = live.resolveSibling(
      live.getFileName.toString + GraftStaging.Suffix +
        java.util.UUID.randomUUID().toString.take(8))
    val t = createAt(staging, ident, schema, info.partitions(), props,
      stagedAtMs = Some(System.currentTimeMillis()))
    GraftStaging.stagedReplace(t, live, staging)
  }
}

private[catalog] object GraftCatalog {
  /** Replicates the default Column[]→StructType conversion (CatalogV2Util is
    * private[sql]): metadata JSON + comment + the default-value keys, with
    * EXISTS_DEFAULT frozen to the FOLDED literal (the raw text would
    * re-evaluate over time) — and CAPTURES IdentityColumnSpec (the default
    * conversion drops it silently) as graft.identity props. */
  private[catalog] def captureColumns(
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      properties: java.util.Map[String, String])
    : (StructType, java.util.Map[String, String]) = {
    val idProps = columns.toSeq.flatMap { c =>
      Option(c.identityColumnSpec()).toSeq.flatMap { spec =>
        GraftIdentity.validateCreate(c.name(), c.dataType(), c.nullable(), spec.getStep)
        val mode = if (spec.isAllowExplicitInsert) ",default" else ""
        Seq(GraftIdentity.Prefix + c.name() -> s"${spec.getStart},${spec.getStep}$mode",
          GraftIdentity.NextPrefix + c.name() -> spec.getStart.toString)
      }
    }
    val withId = new java.util.HashMap[String, String](properties)
    idProps.foreach { case (k, v) => withId.put(k, v) }
    val schema = StructType(columns.toSeq.map { c =>
      val b = new MetadataBuilder()
      Option(c.metadataInJSON()).foreach(j =>
        b.withMetadata(org.apache.spark.sql.types.Metadata.fromJson(j)))
      Option(c.comment()).foreach(b.putString("comment", _))
      Option(c.defaultValue()).foreach { d =>
        b.putString("CURRENT_DEFAULT", d.getSql)
        if (d.getValue != null)
          b.putString("EXISTS_DEFAULT", org.apache.spark.sql.catalyst.expressions.Literal(
            d.getValue.value(), d.getValue.dataType()).sql)
      }
      StructField(c.name(), c.dataType(), c.nullable(), b.build())
    })
    (schema, withId)
  }
}

/** Table metadata: schema + snapshot id → visible segment dirs. Persisted as a
  * line-oriented text file (schema is one JSON line via StructType.json — no
  * extra parser dependency).
  *
  * `committedNamed` is the durable exactly-once registry: every NAMED segment
  * ever committed (streaming `graft.segment` batches), segment name →
  * snapshot id it first landed in. Unlike inferring idempotency from "does a
  * retained snapshot list the segment", this survives compaction folding the
  * segment away and expiry deleting its directory — a replayed epoch after
  * maintenance still finds its name here and no-ops (the Delta
  * txnAppId/txnVersion contract, per-segment-name). */
private[catalog] final case class GraftMeta(
    schema: StructType, current: Long, snapshots: Map[Long, Seq[String]],
    props: Map[String, String] = Map.empty,
    zstats: Map[String, String] = Map.empty,
    committedNamed: Map[String, Long] = Map.empty,
    snapshotTimes: Map[Long, Long] = Map.empty,
    // per-snapshot DELETE VECTORS: snapshot → (segment → dv dirs applied to
    // it). Snapshots absent from the map carry none; a segment leaving a
    // snapshot drops its vectors with it (see dvsAfter).
    dvs: Map[Long, Map[String, Seq[String]]] = Map.empty,
    // PER-SEGMENT deleted-position counts of each dv dir (r20), recorded at
    // DV commit time when the writer has them in hand (it always does — the
    // per-seg grouping feeds the touched set anyway): dv name → segment →
    // positions deleted there. Top-k pruning subtracts these EXACT counts
    // from each segment's guarantee instead of the dv's footer TOTAL (which
    // over-subtracts every touched segment). Advisory only — correctness
    // never depends on an entry being present; absent/pre-r20 dvs fall back
    // to the footer bound. Entries whose dv left every snapshot are dropped
    // at render.
    dvCounts: Map[String, Map[String, Long]] = Map.empty) {

  /** The schema every FILE READ of this table's data must use: name-resolved
    * (field ids stripped) until RENAME COLUMN flips the table to id
    * resolution, id-resolved after (GraftFieldIds). The full `schema` keeps
    * the ids for WRITE stamping and DDL bookkeeping. */
  def readSchema: StructType = GraftFieldIds.readSchema(this)

  /** The DV associations a successor snapshot with segment list `nextDirs`
    * carries: the CURRENT snapshot's vectors, restricted to segments still
    * present — a rewritten/removed segment takes its delete vectors with it
    * (every rewrite path reads DV-merged, so nothing is lost). */
  def dvsAfter(nextDirs: Seq[String]): Map[String, Seq[String]] = {
    val cur = dvs.getOrElse(current, Map.empty)
    if (cur.isEmpty) cur else {
      val keep = nextDirs.toSet
      cur.filter { case (s, _) => keep(s) }
    }
  }
}

/** A snapshot-CAS commit lost to a concurrent writer. Typed (vs the generic
  * require failures) so SERIALIZABLE operations — upsert, whose contract is
  * not append-commutative — can catch it and retry from a fresh probe. */
private[catalog] final class GraftConcurrentCommitException(msg: String)
  extends IllegalStateException(msg)

private[catalog] object GraftMeta {
  val FileName = "_graft_meta"
  /** Directory of full-state commit files, one per meta version, claimed by
    * atomic hard-link creation — the cross-process CAS (see [[casWrite]]). */
  val CommitsDir = "_graft_commits"

  /** `Files.list` with the stream CLOSED — the bare `.iterator()` idiom pins
    * one directory fd until GC, and catalog code lists directories on every
    * introspection/maintenance call. */
  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq
    finally s.close()
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private def parse(lines: Seq[String]): GraftMeta = {
    var schema: StructType = null
    var current = 0L
    val snaps = Map.newBuilder[Long, Seq[String]]
    val props = Map.newBuilder[String, String]
    val zstats = Map.newBuilder[String, String]
    val named = Map.newBuilder[String, Long]
    val times = Map.newBuilder[Long, Long]
    val dvs = Map.newBuilder[Long, Map[String, Seq[String]]]
    val dvCounts = Map.newBuilder[String, Map[String, Long]]
    lines.foreach {
      case l if l.startsWith("schema=") =>
        schema = DataType.fromJson(l.stripPrefix("schema=")).asInstanceOf[StructType]
      case l if l.startsWith("current=") => current = l.stripPrefix("current=").toLong
      case l if l.startsWith("p.") && l.contains("=") =>
        val Array(k, v) = l.drop(2).split("=", 2)
        props += k -> v
      case l if l.startsWith("z.") && l.contains("=") =>
        val Array(seg, payload) = l.drop(2).split("=", 2)
        zstats += seg -> payload
      case l if l.startsWith("c.") && l.contains("=") =>
        val Array(seg, snap) = l.drop(2).split("=", 2)
        named += seg -> snap.toLong
      case l if l.startsWith("t") && l.contains("=") &&
          l.takeWhile(_ != '=').drop(1).forall(_.isDigit) =>
        val Array(id, ms) = l.split("=", 2)
        times += id.drop(1).toLong -> ms.toLong
      case l if l.startsWith("d") && l.contains("=") &&
          l.takeWhile(_ != '=').drop(1).forall(_.isDigit) =>
        val Array(id, enc) = l.split("=", 2)
        dvs += id.drop(1).toLong -> GraftDv.decode(enc)
      case l if l.startsWith("v.") && l.contains("=") =>
        // v.<dvName>=seg:count,... — per-segment deleted-position counts
        val Array(dv, enc) = l.drop(2).split("=", 2)
        dvCounts += dv -> enc.split(',').filter(_.nonEmpty).map { e =>
          val i = e.lastIndexOf(':')
          e.substring(0, i) -> e.substring(i + 1).toLong
        }.toMap
      case l if l.startsWith("s") && l.contains("=") =>
        val Array(id, dirs) = l.split("=", 2)
        snaps += id.drop(1).toLong -> (if (dirs.isEmpty) Nil else dirs.split(",").toSeq)
      case _ => ()
    }
    GraftMeta(schema, current, snaps.result(), props.result(), zstats.result(),
      named.result(), times.result(), dvs.result(), dvCounts.result())
  }

  private def render(meta: GraftMeta): String = {
    val body = new StringBuilder
    body ++= s"schema=${meta.schema.json}\n"
    body ++= s"current=${meta.current}\n"
    meta.props.toSeq.sorted.foreach { case (k, v) =>
      require(!k.contains("\n") && !v.contains("\n"), "property must be single-line")
      body ++= s"p.$k=$v\n"
    }
    meta.zstats.toSeq.sorted.foreach { case (seg, payload) =>
      body ++= s"z.$seg=$payload\n"
    }
    meta.committedNamed.toSeq.sorted.foreach { case (seg, snap) =>
      body ++= s"c.$seg=$snap\n"
    }
    meta.snapshotTimes.toSeq.sortBy(_._1).foreach { case (id, ms) =>
      body ++= s"t$id=$ms\n"
    }
    meta.dvs.toSeq.sortBy(_._1).foreach { case (id, m) =>
      if (m.nonEmpty) body ++= s"d$id=${GraftDv.encode(m)}\n"
    }
    // per-segment dv counts: only for dvs some snapshot still references —
    // expiry/compaction GC'ing a vector drops its counts at the next render
    if (meta.dvCounts.nonEmpty) {
      val referenced = meta.dvs.values.iterator.flatMap(_.values).flatten.toSet
      meta.dvCounts.toSeq.filter(e => referenced(e._1)).sortBy(_._1)
        .foreach { case (dv, counts) =>
          val enc = counts.toSeq.sorted.map { case (s, n) => s"$s:$n" }.mkString(",")
          body ++= s"v.$dv=$enc\n"
        }
    }
    meta.snapshots.toSeq.sortBy(_._1).foreach { case (id, dirs) =>
      body ++= s"s$id=${dirs.mkString(",")}\n"
    }
    body.toString
  }

  def read(tableDir: Path): GraftMeta = readVersioned(tableDir)._1

  /** Current state + the meta VERSION it carries (the CAS token). The source
    * of truth is the highest-numbered full-state file in `_graft_commits/`;
    * `_graft_meta` (always present from createTable on) serves the
    * no-commits-yet case and stays the cheap table-existence marker. A commit
    * file may vanish between listing and reading (expiry GC keeps only the
    * newest) — retry the listing, never fail the read. */
  def readVersioned(tableDir: Path): (GraftMeta, Long) = {
    val cd = tableDir.resolve(CommitsDir)
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val versions =
        if (Files.isDirectory(cd))
          listDir(cd).flatMap(p => scala.util.Try(p.getFileName.toString.toLong).toOption)
        else Nil
      if (versions.isEmpty)
        return (parse(Files.readAllLines(tableDir.resolve(FileName),
          StandardCharsets.UTF_8).asScala.toSeq), 0L)
      val v = versions.max
      try return (parse(Files.readAllLines(cd.resolve(v.toString),
        StandardCharsets.UTF_8).asScala.toSeq), v)
      catch { case _: java.nio.file.NoSuchFileException => () } // GC'd under us
    }
    throw new IllegalStateException(s"graft: cannot read a consistent meta under $tableDir")
  }

  /** Cross-process compare-and-swap: publish `meta` as version
    * `expectedVersion + 1`, failing (returning false) iff any other writer —
    * thread OR process — published that version first. The claim is a hard
    * link from a fully-written temp file to `_graft_commits/<v+1>`: link(2)
    * is create-exclusive and atomic on POSIX, so the file is complete the
    * instant it is visible and two claimants cannot both succeed. (On a
    * filesystem without hard links the fallback is move-without-replace —
    * create-exclusive in the JDK implementation up to a hostile-fs race.)
    * `_graft_meta` is then refreshed as an advisory mirror. */
  def casWrite(tableDir: Path, meta: GraftMeta, expectedVersion: Long): Boolean = {
    val cd = tableDir.resolve(CommitsDir)
    // A commit racing a cross-process renameTable/dropTable must not
    // resurrect the moved-away directory by recreating it and publishing the
    // commit there — that commit would be silently lost (nothing ever reads
    // the zombie dir). The in-process intern lock only serializes rename vs
    // commit within one JVM; cross-process, the liveness witness is the
    // `_graft_meta` mirror, which exists for the table's entire lifetime
    // (written at createTable, refreshed atomically on every commit).
    if (!Files.exists(tableDir.resolve(FileName)))
      throw new IllegalStateException(
        s"graft: table directory vanished under $tableDir (concurrent rename " +
          "or drop) — refusing to publish the commit into a zombie directory")
    Files.createDirectories(cd)
    val body = render(meta).getBytes(StandardCharsets.UTF_8)
    val tmp = cd.resolve(s".tmp.${UUID.randomUUID()}")
    Files.write(tmp, body)
    val target = cd.resolve((expectedVersion + 1).toString)
    val won =
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          try { Files.move(tmp, target); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
      }
    Files.deleteIfExists(tmp)
    if (won) {
      val mtmp = tableDir.resolve(s"$FileName.tmp.${UUID.randomUUID()}")
      Files.write(mtmp, body)
      Files.move(mtmp, tableDir.resolve(FileName),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    won
  }

  /** Initial meta for a fresh table (createTable): the `_graft_meta` mirror
    * alone — version 0 by definition; the first mutation CAS-claims 1. */
  def write(tableDir: Path, meta: GraftMeta): Unit = {
    val body = render(meta).getBytes(StandardCharsets.UTF_8)
    val tmp = tableDir.resolve(s"$FileName.tmp.${UUID.randomUUID()}")
    Files.write(tmp, body)
    Files.move(tmp, tableDir.resolve(FileName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read-compute-CAS loop shared by every meta mutation. `f` sees the
    * freshest state and either returns the successor state, returns its input
    * unchanged (`eq`) to abort without writing, or throws (the
    * expectedCurrent lost-update guards). A lost CAS re-runs `f` on the
    * winner's state — so guards re-evaluate against what actually committed,
    * exactly the optimistic-concurrency contract. The per-table intern lock
    * remains as an in-process fast path (same-JVM writers serialize without
    * burning CAS attempts); the CAS is what makes a SECOND process safe. */
  def mutate(tableDir: Path)(f: GraftMeta => GraftMeta): GraftMeta =
    tableDir.toString.intern().synchronized {
      var attempt = 0
      while (attempt < 50) {
        attempt += 1
        val (meta, version) = readVersioned(tableDir)
        val next = f(meta)
        if (next eq meta) return meta
        if (casWrite(tableDir, next, version)) return next
      }
      throw new IllegalStateException(
        s"graft: commit contention exhausted 50 CAS attempts under $tableDir")
    }

  /** Append-or-replace commit: a CAS-published new snapshot. `named` marks a
    * writer-named segment (streaming exactly-once) — recorded durably in the
    * committedNamed registry so replays stay no-ops across maintenance. */
  /** Refresh a segment dir's mtime just before its meta CAS: the orphan sweep
    * judges in-flight writes by mtime, which otherwise reflects job START — a
    * write running longer than the orphan retention would see its own
    * about-to-be-committed segment swept by a concurrent expire_snapshots. */
  private[catalog] def touchSegment(tableDir: Path, segment: String): Unit =
    try Files.setLastModifiedTime(tableDir.resolve(segment),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () } // advisory only — never fail a commit

  def commit(tableDir: Path, newSegment: String, replace: Boolean,
             stats: Option[String] = None, expectedCurrent: Option[Long] = None,
             named: Boolean = false,
             propCas: Seq[(String, String, String)] = Nil): Unit = {
    touchSegment(tableDir, newSegment)
    mutate(tableDir) { meta =>
      // optimistic concurrency for read-modify-write commits: a REPLACE built
      // from snapshot N must not clobber a snapshot someone else committed
      // meanwhile — losing their appended rows would be silent data loss
      expectedCurrent.foreach(base => require(meta.current == base,
        s"graft: concurrent commit detected (rewrite based on snapshot $base, " +
          s"current is ${meta.current}); retry the operation"))
      val baseDirs = meta.snapshots.getOrElse(meta.current, Nil)
      // a named segment must never be committed twice (two racing writers of
      // the same batch id both reach here; the second append would double
      // every row) — the registry check covers names whose segment was later
      // compacted away, the baseDirs check covers pre-registry tables
      if (!replace && (baseDirs.contains(newSegment) ||
          meta.committedNamed.contains(newSegment))) meta
      else {
        // property CAS riders (identity high-water advancement): each entry
        // requires the prop to still hold the value the write allocated
        // from — a concurrent allocator fails THIS commit loudly instead of
        // letting two writes land overlapping id ranges
        propCas.foreach { case (k, expected, _) =>
          require(meta.props.get(k).contains(expected),
            s"graft: concurrent allocation detected on '$k' (allocated from " +
              s"$expected, committed value is ${meta.props.getOrElse(k, "<absent>")}); " +
              "retry the write")
        }
        val next = meta.current + 1
        val dirs = if (replace) Seq(newSegment) else baseDirs :+ newSegment
        meta.copy(current = next, snapshots = meta.snapshots + (next -> dirs),
          zstats = meta.zstats ++ stats.map(newSegment -> _),
          props = meta.props ++ propCas.map(t => t._1 -> t._3),
          committedNamed =
            if (named) meta.committedNamed + (newSegment -> next) else meta.committedNamed,
          snapshotTimes = meta.snapshotTimes + (next -> System.currentTimeMillis()),
          dvs = meta.dvs + (next -> meta.dvsAfter(dirs)))
      }
    }
  }

  /** Segment-level copy-on-write commit: the new snapshot keeps every current
    * segment EXCEPT `removed` and appends `newSegments` — the file-pruned
    * MERGE/DELETE shape (only touched groups swap; untouched segments are
    * carried by reference, never read or rewritten). Partitioned rewrites
    * land one segment per touched partition, hence the Seq. The
    * expectedCurrent guard fails the commit if anything landed since the
    * rewrite's snapshot pin: swapping `removed` out of a changed base would
    * resurrect deleted rows or duplicate survivors. */
  def commitReplaceSegments(tableDir: Path, newSegments: Seq[(String, Option[String])],
                            removed: Set[String],
                            expectedCurrent: Option[Long] = None,
                            propCas: Seq[(String, String, String)] = Nil): Unit = {
    newSegments.foreach { case (s, _) => touchSegment(tableDir, s) }
    mutate(tableDir) { meta =>
      expectedCurrent.foreach(base => require(meta.current == base,
        s"graft: concurrent commit detected (rewrite based on snapshot $base, " +
          s"current is ${meta.current}); retry the operation"))
      // property CAS riders (identity high-water advancement for ids minted
      // by MERGE INSERT clauses inside the rewrite — same contract as the
      // append commit's riders)
      propCas.foreach { case (k, expected, _) =>
        require(meta.props.get(k).contains(expected),
          s"graft: concurrent allocation detected on '$k' (allocated from " +
            s"$expected, committed value is ${meta.props.getOrElse(k, "<absent>")}); " +
            "retry the write")
      }
      val next = meta.current + 1
      val dirs = meta.snapshots.getOrElse(meta.current, Nil).filterNot(removed) ++
        newSegments.map(_._1)
      meta.copy(current = next, snapshots = meta.snapshots + (next -> dirs),
        zstats = meta.zstats ++ newSegments.collect { case (s, Some(z)) => s -> z },
        props = meta.props ++ propCas.map(t => t._1 -> t._3),
        snapshotTimes = meta.snapshotTimes + (next -> System.currentTimeMillis()),
        dvs = meta.dvs + (next -> meta.dvsAfter(dirs)))
    }
  }

  /** MERGE-ON-READ delete commit: the snapshot keeps every segment
    * byte-identical and associates `dvName` (a freshly written positional
    * delete-vector dir) with each segment in `touched`. Pure metadata plus
    * the O(rows-deleted) vector — the point-delete path that never rewrites
    * a segment.
    *
    * Conflict validation is POSITIONAL, not whole-snapshot (the Iceberg
    * position-delete contract): positions reference immutable files, so a
    * concurrent APPEND — the continuous-ingest case — never invalidates
    * them and must not fail this commit. What MUST fail it:
    *   - a touched segment left the current snapshot (concurrent rewrite/
    *     compaction/delete: the files the positions point into are gone);
    *   - a touched segment's DV list changed (a concurrent merge-on-read
    *     delete on the SAME segment: this delete's match set was computed
    *     against the old vectors, so overlapping positions could be
    *     recorded twice and rows_deleted would double-count). Disjoint-
    *     segment concurrent deletes commute and both commit. */
  def commitAddDeletes(tableDir: Path, dvName: String, touched: Set[String],
                       baseDvs: Map[String, Seq[String]]): Unit =
    commitAddDeletesAndAppend(tableDir, dvName, touched, baseDvs, Nil)

  /** The merge-on-read UPDATE/UPSERT commit shape: ONE atomic snapshot that
    * both associates `dvName` with the `touched` segments (the superseded
    * rows' OLD positions die) and appends `newSegments` (their NEW
    * versions). With `newSegments` empty this is the plain MOR delete
    * commit. Same positional conflict validation either way.
    *
    * `namedKey` makes the WHOLE delta commit idempotent via the durable
    * exactly-once registry (the streaming CDC-apply contract: name the
    * upsert after the micro-batch id and a replayed epoch is a no-op).
    * Returns false iff the key was already committed — the caller deletes
    * its freshly staged vector/segment dirs.
    *
    * `expectedCurrent` upgrades validation from positional to SERIALIZABLE:
    * the commit fails (typed, retryable) if ANY snapshot advanced since the
    * caller's probe. Plain MOR DELETE leaves it unset — positions reference
    * immutable files, so concurrent appends commute with a delete. UPSERT
    * must set it: its contract ('every source row becomes the CURRENT
    * version of its key') is NOT append-commutative — an append or
    * pure-insert upsert landing the same key between probe and commit would
    * leave two live versions of one key. */
  def commitAddDeletesAndAppend(tableDir: Path, dvName: String, touched: Set[String],
                                baseDvs: Map[String, Seq[String]],
                                newSegments: Seq[(String, Option[String])],
                                namedKey: Option[String] = None,
                                expectedCurrent: Option[Long] = None,
                                propsUpdate: Map[String, String] = Map.empty,
                                propCas: Seq[(String, String, String)] = Nil,
                                // per-segment deleted-position counts (r20):
                                // the writer grouped positions by segment to
                                // derive `touched` anyway — recording the
                                // counts keeps top-k pruning's τ exact under
                                // delete waves (advisory; Map.empty = legal)
                                dvSegCounts: Map[String, Long] = Map.empty): Boolean = {
    touchSegment(tableDir, dvName) // mtime = commit time, for the orphan sweep
    newSegments.foreach { case (s, _) => touchSegment(tableDir, s) }
    var applied = true
    mutate(tableDir) { meta =>
      if (namedKey.exists(meta.committedNamed.contains)) { applied = false; meta }
      else {
        applied = true
        expectedCurrent.foreach(base => if (meta.current != base)
          throw new GraftConcurrentCommitException(
            s"graft: concurrent commit detected (write based on snapshot $base, " +
              s"current is ${meta.current}); retry the operation"))
        // property CAS riders (identity high-water advancement) — same
        // contract as commitMany's: checked after the named-replay gate.
        // TYPED retryable (r20): this commit path's callers (upsert, MERGE
        // delta) retry on GraftConcurrentCommitException only — an
        // IllegalArgumentException here would advertise "retry the write"
        // to loops that never would (reachable the day a caller passes
        // expectedCurrent = None, whose stronger check otherwise fires
        // first).
        propCas.foreach { case (k, expected, _) =>
          if (!meta.props.get(k).contains(expected))
            throw new GraftConcurrentCommitException(
              s"graft: concurrent allocation detected on '$k' (allocated from " +
                s"$expected, committed value is ${meta.props.getOrElse(k, "<absent>")}); " +
                "retry the write")
        }
        val dirs = meta.snapshots.getOrElse(meta.current, Nil)
        val cur = meta.dvs.getOrElse(meta.current, Map.empty)
        touched.foreach { s =>
          require(dirs.contains(s),
            s"graft: concurrent rewrite detected — delete vector targets segment '$s', " +
              "which is no longer in the current snapshot; retry the operation")
          require(cur.getOrElse(s, Nil) == baseDvs.getOrElse(s, Nil),
            s"graft: concurrent merge-on-read delete detected on segment '$s'; " +
              "retry the operation")
        }
        val next = meta.current + 1
        val nextDvs = touched.foldLeft(cur) { (m, s) =>
          m + (s -> (m.getOrElse(s, Nil) :+ dvName))
        }
        meta.copy(current = next,
          snapshots = meta.snapshots + (next -> (dirs ++ newSegments.map(_._1))),
          zstats = meta.zstats ++ newSegments.collect { case (s, Some(z)) => s -> z },
          snapshotTimes = meta.snapshotTimes + (next -> System.currentTimeMillis()),
          committedNamed = namedKey.fold(meta.committedNamed)(k =>
            meta.committedNamed + (k -> next)),
          dvs = meta.dvs + (next -> nextDvs),
          dvCounts =
            if (dvSegCounts.isEmpty) meta.dvCounts
            else meta.dvCounts + (dvName -> dvSegCounts),
          // rides the same CAS: a caller whose bookkeeping must advance
          // WITH its data (the MV refresh watermark, the identity
          // high-water) stays atomic
          props = meta.props ++ propsUpdate ++ propCas.map(t => t._1 -> t._3))
      }
    }
    applied
  }

  /** Multi-segment commit — the partitioned-write shape (one partition-pure
    * segment per partition value the job touched), published as ONE snapshot:
    *
    *   - `replaceAll`: the new segments ARE the table (INSERT OVERWRITE /
    *     group-based row-level rewrite);
    *   - `removeSuffixes` non-empty: dynamic partition overwrite — current
    *     segments whose partition suffix is in the set swap out, everything
    *     else carries by reference (Iceberg's replace-partitions commit);
    *   - otherwise plain append.
    *
    * `namedKey` is the exactly-once registry key for the whole JOB (streaming
    * batch id): one logical write = one registry entry regardless of how many
    * partition segments it produced. Returns false iff the key was already
    * committed (the replayed-epoch no-op) — the caller deletes its freshly
    * written segment dirs. */
  def commitMany(tableDir: Path, segments: Seq[(String, Option[String])],
                 replaceAll: Boolean, removeSuffixes: Set[String],
                 expectedCurrent: Option[Long], namedKey: Option[String],
                 propsUpdate: Map[String, String] = Map.empty,
                 propCas: Seq[(String, String, String)] = Nil): Boolean = {
    segments.foreach { case (s, _) => touchSegment(tableDir, s) }
    var applied = true
    mutate(tableDir) { meta =>
      if (namedKey.exists(meta.committedNamed.contains)) { applied = false; meta }
      else {
        expectedCurrent.foreach(base => if (meta.current != base)
          throw new GraftConcurrentCommitException(
            s"graft: concurrent commit detected (write based on snapshot $base, " +
              s"current is ${meta.current}); retry the operation"))
        // property CAS riders (identity high-water advancement, see `commit`):
        // checked AFTER the named-replay gate — a replayed epoch is a no-op,
        // never a spurious allocation conflict
        propCas.foreach { case (k, expected, _) =>
          require(meta.props.get(k).contains(expected),
            s"graft: concurrent allocation detected on '$k' (allocated from " +
              s"$expected, committed value is ${meta.props.getOrElse(k, "<absent>")}); " +
              "retry the write")
        }
        applied = true
        val base = meta.snapshots.getOrElse(meta.current, Nil)
        if (removeSuffixes.nonEmpty) {
          // dynamic partition overwrite is SUFFIX-keyed: under a mixed layout
          // (segments written under an older partition spec) it would skip
          // old-spec segments holding rows of the overwritten partitions —
          // silently stale data. Refuse loudly; value-based paths migrate.
          val mixed = GraftPartitions.mixedLayoutSegments(meta)
          require(mixed.isEmpty,
            s"graft: dynamic partition overwrite on a MIXED-LAYOUT table — " +
              s"${mixed.size} segment(s) predate the current partition spec " +
              s"(spec id ${GraftPartitions.specId(meta.props)}); migrate first: " +
              "INSERT OVERWRITE the full table (rewrites everything under the " +
              "current spec), or let COW delete_where/update_where re-route the " +
              "partitions you touch")
        }
        val kept =
          if (replaceAll) Nil
          else if (removeSuffixes.nonEmpty)
            // match on the PARTITION part of the suffix: an overwritten
            // partition's clustered (`<part>~zc<i>`) segments must swap out
            // with its plain ones, or the overwrite would silently double rows
            base.filterNot(s => GraftPartitions.suffixOf(s)
              .exists(sfx => removeSuffixes(GraftPartitions.baseSuffix(sfx))))
          else base
        val next = meta.current + 1
        val dirs = kept ++ segments.map(_._1)
        meta.copy(current = next,
          snapshots = meta.snapshots + (next -> dirs),
          zstats = meta.zstats ++ segments.collect { case (s, Some(z)) => s -> z },
          committedNamed = namedKey.fold(meta.committedNamed)(k =>
            meta.committedNamed + (k -> next)),
          snapshotTimes = meta.snapshotTimes + (next -> System.currentTimeMillis()),
          dvs = meta.dvs + (next -> meta.dvsAfter(dirs)),
          props = meta.props ++ propsUpdate ++ propCas.map(t => t._1 -> t._3))
      }
    }
    applied
  }
}

/** Partition plumbing for identity-partitioned graft tables.
  *
  * A partitioned table's segments are PARTITION-PURE: every write lands one
  * segment per partition value it touches, named `seg-<base>=<suffix>` where
  * `<suffix>` encodes the value tuple. Purity is what turns the existing
  * zone-map layer into a perfect partition pruner (a constant column's
  * min = max = the value — a predicate on the partition column keeps exactly
  * the matching segments at PLAN time) and makes segment-level DML the
  * partition-as-group copy-on-write Iceberg/Delta users expect: a DELETE on
  * one day's partition rewrites one day.
  *
  * The suffix encoding is equality-stable, not reversible-pretty: each value
  * renders to its canonical STRING form (the same form `CAST(col AS STRING)`
  * produces, so the DataFrame-side DML rewrite and the InternalRow-side V2
  * writer agree byte-for-byte), then every byte outside [A-Za-z0-9.-] is
  * %XX-escaped (so the suffix is POSIX-path-safe and free of the `,` the
  * meta file delimits segment lists with, of the `=` its key=value lines
  * split on, and of the `@` that marks the suffix). NULL encodes as `%0N` —
  * impossible as an escape (N is not hex), so it can never collide with a
  * real value. Multi-column tuples join with `_`, which the escape set
  * deliberately excludes from values. */
private[catalog] object GraftPartitions {
  import org.apache.spark.sql.types._

  /** Marker between the segment base name and the partition suffix. `@` is
    * excluded from user-supplied `graft.segment` names, never appears in the
    * UUID base, and — unlike `=` — is never a delimiter in the meta file's
    * key=value lines (a `z.<segment>=<payload>` key holding an `=` would
    * split the line at the wrong spot and orphan the segment's zone stats),
    * so the FIRST `@` in a segment name is always this marker. */
  val Marker = '@'

  def cols(props: Map[String, String]): Seq[String] =
    props.get(GraftTable.PartitionByProp).toSeq.flatMap(_.split(',')).map(_.trim)

  /** One routed partition dimension: an identity column, or a hash bucket
    * over `source` (bucketN = Some(n), GraftBucket). The shared currency of
    * every partition-pure writer. */
  final case class PartField(source: String, bucketN: Option[Int])

  /** The table's partition routing: identity columns XOR one bucket spec
    * (CREATE enforces the exclusivity). */
  def routedFields(props: Map[String, String]): Seq[PartField] =
    GraftBucket.of(props) match {
      case Some(b) => Seq(PartField(b.col, Some(b.n)))
      case None    => cols(props).map(PartField(_, None))
    }

  /** Per-row canonical partition-value string for one routed dimension. */
  def routeExtractor(dt: DataType, ordinal: Int, bucketN: Option[Int])
    : InternalRow => String = bucketN match {
    case None => internalExtractor(dt, ordinal)
    case Some(n) =>
      val get: InternalRow => Any = dt match {
        case ByteType               => r => r.getByte(ordinal)
        case ShortType              => r => r.getShort(ordinal)
        case IntegerType | DateType => r => r.getInt(ordinal)
        case LongType               => r => r.getLong(ordinal)
        case StringType             => r => r.getUTF8String(ordinal)
        case other => throw new IllegalArgumentException(
          s"graft bucket: unsupported bucket column type $other")
      }
      r => GraftBucket.bucketOf(if (r.isNullAt(ordinal)) null else get(r), n).toString
  }

  def suffixOf(segment: String): Option[String] = {
    val i = segment.indexOf(Marker)
    if (i < 0) None else Some(segment.substring(i + 1))
  }

  /** Strip a trailing per-partition z-order CELL tail (`~zc<i>`, r18): a
    * partitioned `rewrite_clustered` lands segments suffixed
    * `[specId~]<tuple>~zc<i>` — partition-value operations (dynamic
    * overwrite removal) must match on the PARTITION part. `~` cannot appear
    * inside an encoded tuple (%7E-escaped), so a trailing `~zc<digits>` is
    * unambiguous. Unpartitioned cell suffixes (`zc<i>`, no `~`) and plain
    * partition suffixes pass through unchanged. */
  def baseSuffix(sfx: String): String = {
    val i = sfx.lastIndexOf('~')
    if (i > 0 && sfx.length > i + 3 && sfx.charAt(i + 1) == 'z' &&
        sfx.charAt(i + 2) == 'c' && sfx.substring(i + 3).forall(_.isDigit))
      sfx.substring(0, i)
    else sfx
  }

  /** Does this suffix carry a z-order cell (either the unpartitioned `zc<i>`
    * form or a partitioned `...~zc<i>` tail)? The cell-preserving COW gate. */
  def hasCellTail(sfx: String): Boolean =
    (sfx.startsWith("zc") && sfx.length > 2 && sfx.substring(2).forall(_.isDigit)) ||
      baseSuffix(sfx) != sfx

  /** Identity partition columns may be any type whose canonical string form
    * is stable across the write paths; floating point (ill-defined equality)
    * and nested/binary/timestamp types are refused. Timestamp identity
    * partitioning is additionally an anti-pattern (unbounded cardinality —
    * the lakehouse recipe is a derived day/hour column). */
  def supportedType(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  private val safeByte: Int => Boolean = b =>
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') ||
      b == '.' || b == '-'

  def encodeString(s: String): String =
    if (s == null) "%0N"
    else {
      val enc = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).map { b =>
        val ub = b & 0xff
        if (safeByte(ub)) ub.toChar.toString else f"%%$ub%02X"
      }.mkString
      // a value encoding to LITERALLY `zc<digits>` would collide with the
      // z-order cell-tail marker: `42~zc3` (spec-42 partition value "zc3")
      // would baseSuffix-strip to "42" and decode as spec 0, and a spec-0
      // suffix "zc3" would read as an unpartitioned cell tail. Escaping the
      // 'z' (%7A — decodeString inverts it like any %XX byte) keeps every
      // writer/matcher consistent (all go through here) and makes a real
      // cell tail the ONLY thing that can look like one.
      if (enc.length > 2 && enc.startsWith("zc") && enc.substring(2).forall(_.isDigit))
        "%7A" + enc.substring(1)
      else enc
    }

  def encodeTuple(values: Seq[String]): String = values.map(encodeString).mkString("_")

  /** Inverse of [[encodeString]] — `%XX` bytes decoded, `%0N` → None (null).
    * Introspection-only (the `t.partitions` metadata table); write paths and
    * suffix matching always compare ENCODED forms. */
  def decodeString(enc: String): Option[String] =
    if (enc == "%0N") None
    else Some {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < enc.length) {
        val c = enc.charAt(i)
        if (c == '%' && i + 2 < enc.length) {
          out.write(Integer.parseInt(enc.substring(i + 1, i + 3), 16)); i += 3
        } else { out.write(c.toInt); i += 1 }
      }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** Decoded human-readable partition tuple of a spec-qualified suffix:
    * `1~us_2024` → "us/2024" (nulls render as "null"). */
  def describeSuffix(suffixStr: String): String = {
    val i = suffixStr.indexOf('~')
    val tuple =
      if (i > 0 && suffixStr.substring(0, i).forall(_.isDigit))
        suffixStr.substring(i + 1)
      else suffixStr
    tuple.split('_').map(p => decodeString(p).getOrElse("null")).mkString("/")
  }

  /** PARTITION EVOLUTION support. Each evolution bumps `graft.partition-spec-id`;
    * segments written under spec N > 0 carry suffix `<N>~<tuple>` — the spec id
    * is part of the suffix string, so segments of DIFFERENT specs can never
    * suffix-collide (dynamic overwrite's removal matching and compaction's
    * grouping both compare full suffix strings). Never-evolved tables keep the
    * bare `<tuple>` form (spec id 0), byte-identical to the pre-evolution
    * format. '~' cannot appear inside an encoded tuple (it is %7E-escaped), so
    * the first '~' after leading digits is always this marker. */
  val SpecIdProp = "graft.partition-spec-id"

  def specId(props: Map[String, String]): Long =
    props.get(SpecIdProp).map(_.toLong).getOrElse(0L)

  /** Spec-qualified suffix for freshly written partition-pure segments. */
  def suffix(values: Seq[String], specId: Long): String =
    if (specId == 0L) encodeTuple(values) else s"$specId~${encodeTuple(values)}"

  /** Spec id a segment was written under (0 = pre-evolution format). */
  def specIdOf(suffixStr: String): Long = {
    // strip a trailing z-cell tail first: "42~zc3" is partition value "42"
    // of spec 0 with cell 3, not spec 42 (all-digit string partition values
    // are legal; the sid separator is only ever the FIRST '~' of the base)
    val s = baseSuffix(suffixStr)
    val i = s.indexOf('~')
    if (i <= 0) 0L
    else {
      val head = s.substring(0, i)
      if (head.forall(_.isDigit)) head.toLong else 0L
    }
  }

  /** Same validation the CREATE path applies to identity partition columns
    * (existence, supported type, property-safe name charset) — evolution must
    * not admit a spec CREATE would refuse. Returns the schema-cased names. */
  def validateCols(names: Seq[String], schema: StructType): Seq[String] =
    names.map { c =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"graft catalog: unknown partition column '$c'"))
      require(supportedType(field.dataType),
        s"graft catalog: partition column '$c' has unsupported type ${field.dataType} " +
          "(string/integral/boolean/date/decimal only — derive a column for timestamps)")
      require(field.name.matches("[A-Za-z0-9_.\\-]+"),
        s"graft catalog: partition column name '${field.name}' must match [A-Za-z0-9_.-]+")
      field.name
    }

  /** Current-snapshot segments whose layout does not match the CURRENT
    * partition spec — the set that makes suffix-keyed operations (dynamic
    * partition overwrite) ambiguous. Value-based operations (zone-map-pruned
    * scans, COW delete/update discovery, MOR vectors) are layout-agnostic
    * and stay correct on a mixed table. */
  def mixedLayoutSegments(meta: GraftMeta): Seq[String] = {
    val sid = specId(meta.props)
    val partitioned = cols(meta.props).nonEmpty
    meta.snapshots.getOrElse(meta.current, Nil).filter { seg =>
      suffixOf(seg) match {
        case Some(sfx) => !partitioned || specIdOf(sfx) != sid
        case None      => partitioned
      }
    }
  }

  /** Per-field InternalRow → canonical string (null-safe), matching
    * `CAST(col AS STRING)` for every supported type — the consistency
    * contract between the V2 writer and the DataFrame DML rewrite. */
  def internalExtractor(dt: DataType, ordinal: Int): InternalRow => String = dt match {
    case StringType  => r => if (r.isNullAt(ordinal)) null else r.getUTF8String(ordinal).toString
    case BooleanType => r => if (r.isNullAt(ordinal)) null else r.getBoolean(ordinal).toString
    case ByteType    => r => if (r.isNullAt(ordinal)) null else r.getByte(ordinal).toString
    case ShortType   => r => if (r.isNullAt(ordinal)) null else r.getShort(ordinal).toString
    case IntegerType => r => if (r.isNullAt(ordinal)) null else r.getInt(ordinal).toString
    case LongType    => r => if (r.isNullAt(ordinal)) null else r.getLong(ordinal).toString
    case DateType    => r => if (r.isNullAt(ordinal)) null
      else java.time.LocalDate.ofEpochDay(r.getInt(ordinal).toLong).toString
    case d: DecimalType => r => if (r.isNullAt(ordinal)) null
      else r.getDecimal(ordinal, d.precision, d.scale).toBigDecimal.bigDecimal.toString
    case other => throw new IllegalArgumentException(
      s"graft: unsupported partition column type $other")
  }
}

private[catalog] object GraftTable {
  /** `TBLPROPERTIES('write.cluster-by'='c1,c2')` — every write shuffles rows so
    * equal keys land in one task (zone-map/bucketing-friendly segments). */
  val ClusterByProp = "write.cluster-by"
  /** `TBLPROPERTIES('write.order-by'='c1,c2')` — every write sorts rows within
    * each task before they hit parquet (row-group min/max stats become
    * selective — the Z-order/q134 payoff, owned by the table instead of the
    * query author). */
  val OrderByProp = "write.order-by"

  /** Internal (alterTable-maintained): names ever dropped from this table —
    * re-adding one would be an unguarded type change over old segments. */
  val DroppedColumnsProp = "graft.dropped-columns"

  /** Internal (createTable-set): identity partition columns, in declaration
    * order. Presence switches the table onto the partition-pure write path
    * (one segment per partition value per write — see GraftPartitions). */
  val PartitionByProp = "graft.partition-by"

  /** The one place a graft read lists files: Spark's v2 parquet scan builder
    * over exactly `dirs`, read as `schema` and, when given, column-pruned to
    * `pruned`. Creating the builder lists every dir (past 32 dirs that is a
    * distributed Spark job), so callers pass only the dirs a scan will
    * actually read: zone/bloom survivors, one commit's new segments, or none
    * at all when only a reader factory is wanted. */
  def parquetScan(name: String, dirs: Seq[String], schema: StructType,
                  options: CaseInsensitiveStringMap,
                  pruned: Option[StructType] = None): ScanBuilder = {
    val b = ParquetTable(name, SparkSession.active, options, dirs, Some(schema),
      classOf[ParquetFileFormat]).newScanBuilder(options)
    pruned.foreach(b.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns)
    b
  }
}

private[catalog] final class GraftTable(
    catalog: String, ident: Identifier, tableDir: Path, pinnedSnapshot: Option[Long],
    pinnedRef: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
  with SupportsDeleteV2
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private val meta = GraftMeta.read(tableDir)
  // id-resolved (post-RENAME) table entering the session: its reads, writes,
  // and maintenance jobs need the parquet fieldId session confs from here on
  GraftFieldIds.enableIfResolved(meta.props)

  private[catalog] def dir: Path = tableDir
  private[catalog] def currentSnapshot: Long = meta.current
  private[catalog] def metaAtLoad: GraftMeta = meta
  /** Time-travel / branch reads address snapshots other than current — the
    * MV rewrite (and any other current-state-only serving layer) must skip. */
  private[catalog] def pinned: Boolean = pinnedSnapshot.isDefined || pinnedRef.isDefined

  override def name(): String = (catalog +: ident.namespace() :+ ident.name()).mkString(".")
  // the EXPOSED schema is the read schema: Spark derives every pruned read
  // schema from these attributes, so ids must appear here exactly when the
  // table resolves by id (post-rename) and never before (add_files segments
  // carry no footer ids and must keep name resolution)
  override def schema(): StructType = meta.readSchema
  override def properties(): java.util.Map[String, String] = meta.props.asJava
  override def partitioning(): Array[Transform] =
    GraftBucket.of(meta.props) match {
      case Some(b) => Array(
        org.apache.spark.sql.connector.expressions.Expressions.bucket(b.n, b.col))
      case None => GraftPartitions.cols(meta.props).map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
    }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer's
      // ResolveMergeIntoSchemaEvolution evolves the target through the SAME
      // alterTable arms ordinary DDL uses (AddColumn incl. nested members,
      // widening via UpdateColumnType) — so every catalog guard (nullable,
      // widen-only, dropped-name retirement, field-id assignment) applies
      // to merge-driven evolution identically
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Segment dirs visible to this read: a pinned snapshot (`VERSION AS OF` /
    * `TIMESTAMP AS OF` / a `snapshot` read option), an incremental CHANGES
    * range, or the current snapshot — resolved NOW, so the scan built from
    * this list is immune to later commits (snapshot isolation).
    *
    * Changes feed (`graft.changes.from` exclusive, `graft.changes.to`
    * inclusive, default current): the segments APPENDED in the range — the
    * Iceberg incremental-append-scan contract. Valid only while the range is
    * append-only; a replace/rewrite commit in between (MERGE, compaction,
    * delete) fails the read loudly rather than returning rows that are not
    * "the new data since snapshot N". */
  private def visibleSegments(options: CaseInsensitiveStringMap): Seq[String] =
    visibleWithDvs(options)._1

  /** Visible segments PLUS the delete-vector associations that apply to this
    * read (the visible snapshot's vectors; an explicit `graft.dvs` map for
    * raw segment reads; none for the append-only changes feed, which refuses
    * DV commits in range the same way it refuses rewrites). */
  private def visibleWithDvs(options: CaseInsensitiveStringMap)
    : (Seq[String], Map[String, Seq[String]]) = {
    // `graft.segments`: scan exactly the named segments — the CDC row-delta
    // reader's primitive (GraftCdc reads base-only and target-only segment
    // sets separately). Guarded: every name must be referenced by SOME
    // retained snapshot, so this can never read an orphan or foreign path.
    // `graft.dvs` optionally carries the side's snapshot-exact DV map.
    Option(options.get("graft.segments")).foreach { list =>
      val names = list.split(",").filter(_.nonEmpty).toSeq
      val known = meta.snapshots.valuesIterator.flatten.toSet
      names.foreach(n => require(known(n),
        s"${name()}: segment '$n' is not referenced by any retained snapshot"))
      val dvMap = GraftDv.decode(options.get(GraftDv.DvsOption))
        .filter { case (s, _) => names.contains(s) }
      return (names, dvMap)
    }
    // branch read (VERSION AS OF '<name>' or .option("graft.branch", name)):
    // the ref's staged segment list, with the BASE snapshot's delete vectors
    // applied — the audit query sees exactly what fast_forward would publish
    Option(options.get("graft.branch")).orElse(pinnedRef).foreach { b =>
      val ref = GraftRefs.get(meta, b).getOrElse(throw new IllegalArgumentException(
        s"${name()}: no branch '$b' (and not a snapshot id)"))
      return (ref.dirs, GraftDv.forSegments(meta, ref.base, ref.dirs))
    }
    val changesFrom = Option(options.get("graft.changes.from")).map(_.toLong)
    changesFrom match {
      case Some(from) =>
        val to = Option(options.get("graft.changes.to")).map(_.toLong).getOrElse(meta.current)
        Seq(from, to).foreach(snap => require(meta.snapshots.contains(snap),
          s"${name()}: no snapshot $snap (have ${meta.snapshots.keys.toSeq.sorted.mkString(",")})"))
        require(from <= to, s"${name()}: changes.from $from must be <= changes.to $to")
        val base = meta.snapshots(from)
        val target = meta.snapshots(to)
        require(base.forall(target.contains),
          s"${name()}: snapshots $from..$to are not append-only (a replace/rewrite " +
            "commit landed in the range); the changes feed cannot express row-level diffs")
        require(meta.dvs.getOrElse(from, Map.empty) == meta.dvs.getOrElse(to, Map.empty),
          s"${name()}: snapshots $from..$to are not append-only (a merge-on-read " +
            "DELETE committed a delete vector in the range); the changes feed " +
            "cannot express row-level deletes — use t.changes or GraftCdc")
        (target.filterNot(base.toSet), Map.empty)
      case None =>
        val snap = Option(options.get("snapshot")).map(_.toLong)
          .orElse(pinnedSnapshot).getOrElse(meta.current)
        require(meta.snapshots.contains(snap),
          s"${name()}: no snapshot $snap (have ${meta.snapshots.keys.toSeq.sorted.mkString(",")})")
        val segs = meta.snapshots(snap)
        (segs, GraftDv.forSegments(meta, snap, segs))
    }
  }

  /** Reads delegate to Spark's v2 parquet table over the visible segments —
    * filter pushdown, column pruning, and vectorized decode come with it —
    * wrapped in the zone-map layer: pushed predicates drop whole segments
    * whose committed min/max/null stats cannot satisfy them, at PLAN time,
    * before any file is listed or opened (SegmentStats.scala). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val (segs, dvMap) = visibleWithDvs(options)
    val rs = meta.readSchema // name- or id-resolved per the table's state
    def pruning(ss: Seq[String], schema: StructType) =
      new GraftPruningScanBuilder(schema,
        ss.map(s => s -> tableDir.resolve(s).toString), meta.zstats,
        tableDir, name(), rs, options,
        spjFields = GraftPartitions.routedFields(meta.props),
        spjSpecId = GraftPartitions.specId(meta.props))
    if (dvMap.isEmpty)
      pruning(segs, rs)
    else {
      // merge-on-read: clean segments keep the untouched vectorized path;
      // DV'd segments read row-based with the per-file position filter
      val dirty = segs.filter(dvMap.contains)
      val clean = segs.filterNot(dvMap.contains)
      new GraftDvScanBuilder(
        if (clean.isEmpty) None else Some(pruning(clean, rs)),
        pruning(dirty, StructType(rs.fields :+ GraftDv.RowIdxField)),
        dvMap.valuesIterator.flatten.toSeq.distinct, tableDir, name(), rs, options)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(tableDir, info, replaceOnCommit = false)

  /** Row-identity metadata columns for the delta (merge-on-read MERGE) path:
    * Spark resolves `SupportsDelta.rowId` against the relation's metadata
    * output, so the columns must exist here. They are SERVED only by the
    * row-level delta scan (GraftDeltaScanBuilder) — referencing them in an
    * ordinary SELECT is unsupported (the normal scan builders cannot emit
    * them), the same hidden-column contract as Iceberg's `_file`/`_pos`. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftDeltaMerge.SfCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "segment-qualified file name (row identity)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftDeltaMerge.PosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row ordinal within its parquet file (row identity)"
      })

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () =>
      // MERGE on a merge-on-read table takes the DELTA path (positions +
      // appends, O(rows-touched)); everything else keeps the group-based
      // copy-on-write rewrite
      if (GraftDeltaMerge.isDeltaMerge(info, meta.props))
        new GraftDeltaOperation(this, info)
      else new GraftRowLevelOperation(this, info)

  /** SQL `DELETE FROM` routed through `SupportsDeleteV2`: when every pushed
    * predicate round-trips through the public V2ExpressionSQLBuilder, the
    * delete runs the SEGMENT-LEVEL copy-on-write core (GraftDml) — discovery
    * scan, rewrite of only the touched segments, partial snapshot swap —
    * instead of the whole-table group rewrite. Spark falls back to the
    * row-level rewrite automatically when canDeleteWhere is false, so the
    * full-COW path stays available for untranslatable conditions. */
  private def predicatesToSql(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): String =
    if (predicates.isEmpty) "TRUE"
    else predicates.map { p =>
      "(" + new org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder().build(p) + ")"
    }.mkString(" AND ")

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    pinnedSnapshot.isEmpty && scala.util.Try {
      val sql = predicatesToSql(predicates)
      val parsed = SparkSession.active.sessionState.sqlParser.parseExpression(sql)
      // the parsed predicate must reference only this table's columns — an
      // unresolvable name would fail the discovery job after we claimed the
      // delete, which Spark does not retry on the row-level path
      val fields = meta.schema.fieldNames.map(_.toLowerCase).toSet
      parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a
      }.forall(a => a.nameParts.length == 1 && fields.contains(a.nameParts.head.toLowerCase))
    }.getOrElse(false)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    GraftDml.deleteWhere(tableDir, predicatesToSql(predicates))
}

/** Group-based (copy-on-write) row-level operation: Spark rewrites
  * MERGE/UPDATE/DELETE into scan + surviving-rows plan; the write lands a
  * replacement of exactly the groups the scan read.
  *
  * The scan is deliberately pushdown-BLIND at the ROW level: in the
  * group-based contract, filters pushed into a row-level scan are
  * GROUP-pruning hints (the rewrite re-applies the row predicate itself,
  * e.g. `Filter NOT cond` for DELETE), so a scan that honors them as row
  * filters silently drops every untouched row from the replacement snapshot.
  * The builder exposes only column pruning.
  *
  * GROUP granularity: on a PARTITIONED table the groups are the
  * partition-pure segments, wired into Spark's runtime group filtering
  * (RowLevelOperationRuntimeGroupFiltering): the group scan reports the
  * partition columns as `filterAttributes`, Spark plans a separate
  * matching-rows scan (itself zone-map pruned) and delivers the DISTINCT
  * partition values of rows the DML actually touches as a runtime IN
  * predicate, and the group scan drops every other segment BEFORE reading it.
  * The commit then swaps exactly the scanned segments (the op records them),
  * so a MERGE touching one day rewrites one day — SQL DML now matches the
  * delete_where/update_where procedures' partition-as-group cost. An
  * unpartitioned table reports no filter attributes and keeps the
  * whole-table-replace contract unchanged; if the runtime filter never runs,
  * the recorded scan set stays None and the commit replaces the full
  * load-time snapshot — never a torn subset. */
private[catalog] final class GraftRowLevelOperation(
    table: GraftTable, info: RowLevelOperationInfo) extends RowLevelOperation {
  // the snapshot every piece of this operation pins: the scan reads it, the
  // commit's expectedCurrent guards it, group removal subtracts from it
  private val metaAtLoad = table.metaAtLoad
  private val baseSegments: Seq[String] =
    metaAtLoad.snapshots.getOrElse(metaAtLoad.current, Nil)
  /** Segments the (possibly runtime-filtered) group scan will read; None
    * until a runtime filter actually runs. */
  @volatile private[catalog] var scannedSegments: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = info.command()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val op = this
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var pruned: StructType = null
      override def pruneColumns(requiredSchema: StructType): Unit = pruned = requiredSchema
      override def build(): Scan =
        new GroupScan(op, table.name(), options, baseSegments, table.dir, metaAtLoad,
          Option(pruned))
    }
  }

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
    // the rewrite read the table at its load-time snapshot: the replacement
    // commit must fail (not silently win) if anything committed in between
    new GraftWriteBuilder(table.dir, writeInfo, replaceOnCommit = true,
      fromRowLevelOp = true, expectedCurrent = Some(metaAtLoad.current),
      groupRemovals = () => scannedSegments)
}

/** Zone-map segment pruning around the delegated parquet ScanBuilder.
  *
  * Prune first, then list: `pushFilters` consults each visible segment's
  * committed min/max/null stats (SegmentStats) and bloom index, and only then
  * builds the inner parquet builder — over the segments a predicate could
  * match. The inner builder lists its dirs when created, so it is built at
  * most once per read, on first need: a stats-served aggregate never builds
  * it and lists nothing, a point lookup lists only its bloom survivors.
  * Pruning is conservative (segments without stats, non-literal shapes,
  * non-ASCII string bounds all keep), and the filters are still forwarded to
  * the parquet builder, so a wrongly-kept segment costs IO, never rows.
  *
  * Row-level operation scans never see this pruning: GraftRowLevelOperation's
  * builder deliberately exposes no filter pushdown, so group scans always
  * cover the full replacement set. */
private[catalog] final class GraftPruningScanBuilder(
    fileSchema: StructType, // tableSchema, plus the row-index column on a DV'd side
    segments: Seq[(String, String)], // (segment name, absolute dir)
    zstats: Map[String, String],
    tableDir: Path, tableName: String, tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    // identity partition columns + current spec id (storage-partitioned
    // joins, GraftSpj); empty on unpartitioned tables and DV composites
    spjFields: Seq[GraftPartitions.PartField] = Nil, spjSpecId: Long = 0L)
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var live = segments // post-zone-pruning survivors (build-time stats)
  private var prunedSchema: StructType = null
  private var anyFilterPushed = false
  private var lastPushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  private var statsAgg: Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = None
  private var parquet: Option[ScanBuilder] = None

  /** The parquet builder over `live` with the recorded column pruning and
    * pushed filters replayed — built, and `live` listed, the first time a
    * parquet scan is needed. */
  private def inner: ScanBuilder = parquet.getOrElse {
    parquet = Some(replayed(live.map(_._2), prunedSchema, lastPushed))
    parquet.get
  }

  private def replayed(dirs: Seq[String], schema: StructType,
                       pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): ScanBuilder = {
    val b = GraftTable.parquetScan(tableName, dirs, fileSchema, options, Option(schema))
    if (pushed.nonEmpty) catalystOf(b).pushFilters(pushed)
    b
  }

  private def catalystOf(b: ScanBuilder) =
    b.asInstanceOf[org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters]

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // in stats-served aggregate mode the output schema is the aggregate's,
    // owned by build() — a late pruneColumns must not reach the parquet side
    if (statsAgg.isDefined) return
    prunedSchema = requiredSchema
    parquet.foreach(_.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns(requiredSchema))
  }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
    : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    anyFilterPushed ||= filters.nonEmpty
    live = segments.filter { case (name, dir) =>
      val zoneKeeps = zstats.get(name) match {
        case Some(enc) =>
          val st = scala.util.Try(SegmentStats.decode(enc)).toOption
          st.forall(s => filters.forall(f => SegmentStats.mayMatch(s, f)))
        case None => true
      }
      // bloom layer: equality probes against the segment's opt-in point-
      // lookup index (GraftBloom) — prunes where range stats are blind
      zoneKeeps && filters.forall(f => GraftBloom.mayContain(dir, f))
    }
    // Spark reads pushedFilters back right away and only the parquet builder
    // knows which filters translate, so it is built here — over survivors only
    parquet = Some(replayed(live.map(_._2), prunedSchema, Nil))
    lastPushed = filters
    catalystOf(inner).pushFilters(filters)
  }

  /** Plan-time EXACT statistics for the surviving segments, from committed
    * zone stats — zero file IO. Row count is exact when every survivor has
    * stats; per-column (ndv, nullCount) when additionally every survivor
    * carries the column's entry (+ an NDV sketch for ndv). Reported through
    * SupportsReportStatistics so Catalyst's broadcast threshold / CBO see
    * graft tables truthfully instead of falling back to size heuristics. */
  private def committedStats(): (Option[Long], () => Map[String, GraftColStats]) = {
    if (live.isEmpty) return (Some(0L), () => Map.empty)
    val decoded = live.map { case (n, _) =>
      zstats.get(n).flatMap(z => scala.util.Try(SegmentStats.decode(z)).toOption)
    }
    if (decoded.exists(_.isEmpty)) return (None, () => Map.empty)
    val sts = decoded.flatten
    val rows = Some(sts.map(_.rows).sum)
    // per-column work (HLL heapify + union per sketch, KLL merges) deferred
    // behind a thunk: Spark asks for columnStats only when the planner wants
    // them, and the common scan-build path must not pay sketch decodes
    def cols() = tableSchema.fields.flatMap { f =>
      val cs = sts.flatMap(_.cols.get(f.name))
      if (cs.length != sts.length) None
      else {
        val nulls = Some(cs.map(_.nulls).sum)
        val ndv =
          if (cs.forall(_.ndv.isDefined)) scala.util.Try {
            val u = new org.apache.datasketches.hll.Union(12)
            cs.foreach(c => u.update(org.apache.datasketches.hll.HllSketch.heapify(
              java.util.Base64.getDecoder.decode(c.ndv.get))))
            Math.round(u.getEstimate)
          }.toOption
          else None
        // typed MIN/MAX for the planner's range-selectivity intervals (r18):
        // zone maps carry them for every numeric/date/timestamp column, so
        // a range predicate estimates by interval overlap instead of the
        // blind 1/3 default. Values box to the column's CATALYST-internal
        // type (date = epoch-day Int, timestamp = micros Long).
        val kind = cs.head.kind
        val numeric = kind == 'i' || kind == 'd' || kind == 't'
        def box(v: Long): AnyRef = f.dataType match {
          case org.apache.spark.sql.types.ByteType    => Byte.box(v.toByte)
          case org.apache.spark.sql.types.ShortType   => Short.box(v.toShort)
          case org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.DateType    => Int.box(v.toInt)
          case _                                      => Long.box(v)
        }
        val minsL = if (numeric) cs.flatMap(c => c.min.flatMap(s =>
          scala.util.Try(s.toLong).toOption)) else Nil
        val maxsL = if (numeric) cs.flatMap(c => c.max.flatMap(s =>
          scala.util.Try(s.toLong).toOption)) else Nil
        val mn = if (minsL.nonEmpty) Some(box(minsL.min)) else None
        val mx = if (maxsL.nonEmpty) Some(box(maxsL.max)) else None
        // equi-height HISTOGRAM from the opt-in KLL quantile sketches (r18):
        // 64 bins at merged-sketch quantile boundaries, so a SKEWED range
        // predicate estimates by actual mass, not uniform interpolation —
        // the difference between a join reorder that fires on truth and one
        // that fires on a fantasy. Per-bin ndv approximates ndv/bins (the
        // planner uses it for equality inside a bin; ranges use bin mass).
        val hist =
          if (numeric && cs.nonEmpty && cs.forall(_.kll.isDefined)) scala.util.Try {
            val u = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(200)
            cs.foreach(c => u.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
              org.apache.datasketches.memory.Memory.wrap(
                java.util.Base64.getDecoder.decode(c.kll.get)))))
            require(!u.isEmpty, "empty sketch")
            val nBins = 64
            val qs = (0 to nBins).map(i => u.getQuantile(i.toDouble / nBins))
            val perBinNdv = ndv.map(v => math.max(1L, v / nBins))
              .getOrElse(math.max(1L, u.getN / nBins))
            (u.getN.toDouble / nBins,
              (0 until nBins).map(i => (qs(i), qs(i + 1), perBinNdv)).toArray)
          }.toOption
          else None
        Some(f.name -> GraftColStats(ndv, nulls, mn, mx, hist))
      }
    }.toMap
    (rows, () => cols())
  }

  /** Metadata-only COUNT/MIN/MAX from segment zone maps (GraftStatsAgg):
    * partial pushdown, exactness-gated, refused whenever a predicate was
    * pushed or any stat is missing. Disable per read with
    * `option("graft.stats.aggregate-pushdown", "false")`. */
  override def supportCompletePushDown(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (anyFilterPushed) return false
    if ("false".equalsIgnoreCase(options.get("graft.stats.aggregate-pushdown"))) return false
    GraftStatsAgg.plan(aggregation, segments.map(_._1), zstats, tableSchema) match {
      case Some(planned) => statsAgg = Some(planned); true
      case None => false
    }
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    catalystOf(inner).pushedFilters

  /** The pruned parquet scan WITHOUT the streamable wrapper — the DV scan
    * builder composes clean+dirty inner scans itself before wrapping.
    * (Never in stats-agg mode: the DV builder does not offer the interface.) */
  private[catalog] def buildInner(): Scan = inner.build()

  override def build(): Scan = statsAgg match {
    case Some((aggSchema, rows)) =>
      new GraftStreamableScan(
        new GraftStatsAggScan(aggSchema, rows, tableName, segments.size),
        tableDir, tableName, tableSchema, options)
    case None =>
      val (committedRows, colStats) = committedStats()
      // EXACT committed rows, unless a pushed string range demoted the
      // count to the prefix-uniformity ESTIMATE below (hence the name)
      val reportedRows = stringRangeRefined(committedRows)
      val scan = inner.build()
      // segment-pinned reads (the CDC row-delta primitive) and branch reads
      // never advertise runtime pruning: they already name their exact
      // segment set, so a planted DPP subquery is pure tax (measured +24%
      // on the per-commit CDC query at sf1 before this gate)
      val special = options.containsKey("graft.segments") ||
        options.containsKey("graft.branch")
      new GraftStreamableScan(scan, tableDir, tableName, tableSchema,
        options, reportedRows, colStats,
        GraftSpj.plan(spjFields, spjSpecId, live, scan.readSchema()),
        runtime = if (special) None else Some(runtimePrune(scan.readSchema())))
  }

  /** r19 (CBO string selectivity): Spark's FilterEstimation cannot price a
    * RANGE predicate on a STRING column (its Range model is numeric-only),
    * so a pushed string range refines the SCAN's reported row count here
    * instead: per surviving segment, the committed EXACT string bounds give
    * the fraction of the segment's byte-prefix interval the predicate
    * overlaps (SegmentStats.prefix56 — prefix order embeds string order).
    * Only exactness-flagged ASCII bounds participate; any other segment
    * contributes its full rows (conservative over-estimate). EQUALITY
    * predicates are deliberately NOT refined — the Filter node above prices
    * them at 1/ndv from the reported distinctCount, and refining both
    * layers would double-count the selectivity. */
  private def stringRangeRefined(exact: Option[Long]): Option[Long] = {
    if (exact.isEmpty || lastPushed.isEmpty) return exact
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // fold conjuncts into one [lo, hi] string interval per column (bound
    // inclusivity is irrelevant to an estimate)
    var ivs = Map.empty[String, (Option[UTF8String], Option[UTF8String])]
    def note(a: Expression, lo: Option[UTF8String], hi: Option[UTF8String]): Unit =
      a match {
        case ar: AttributeReference if ar.dataType == StringType =>
          val (l0, h0) = ivs.getOrElse(ar.name, (None, None))
          val l = (l0.toSeq ++ lo.toSeq)
            .reduceOption((x, y) => if (x.compareTo(y) >= 0) x else y)
          val h = (h0.toSeq ++ hi.toSeq)
            .reduceOption((x, y) => if (x.compareTo(y) <= 0) x else y)
          ivs += ar.name -> (l, h)
        case _ => ()
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    lastPushed.flatMap(conjuncts).foreach {
      case GreaterThan(a, Literal(v: UTF8String, StringType))        => note(a, Some(v), None)
      case GreaterThanOrEqual(a, Literal(v: UTF8String, StringType)) => note(a, Some(v), None)
      case LessThan(Literal(v: UTF8String, StringType), a)           => note(a, Some(v), None)
      case LessThanOrEqual(Literal(v: UTF8String, StringType), a)    => note(a, Some(v), None)
      case LessThan(a, Literal(v: UTF8String, StringType))           => note(a, None, Some(v))
      case LessThanOrEqual(a, Literal(v: UTF8String, StringType))    => note(a, None, Some(v))
      case GreaterThan(Literal(v: UTF8String, StringType), a)        => note(a, None, Some(v))
      case GreaterThanOrEqual(Literal(v: UTF8String, StringType), a) => note(a, None, Some(v))
      case _ => ()
    }
    if (ivs.isEmpty) return exact
    val sts = live.flatMap { case (n, _) =>
      zstats.get(n).flatMap(z => scala.util.Try(SegmentStats.decode(z)).toOption)
    }
    if (sts.size != live.size) return exact // committedStats said exact ⇒ unreachable
    def pf(u: UTF8String): Double = SegmentStats.prefix56(u.toString).toDouble
    val est = sts.map { st =>
      var frac = 1.0
      ivs.foreach { case (colName, (lo, hi)) =>
        st.cols.get(colName).foreach { c =>
          val ok = c.kind == 's' && c.strExact &&
            c.min.exists(_.forall(_ < 128)) && c.max.exists(_.forall(_ < 128))
          if (ok) {
            val mn = SegmentStats.prefix56(c.min.get).toDouble
            val mx = SegmentStats.prefix56(c.max.get).toDouble
            if (mx > mn) {
              val l = lo.map(pf).getOrElse(mn)
              val h = hi.map(pf).getOrElse(mx)
              val ov = math.max(0.0, math.min(h, mx) - math.max(l, mn)) / (mx - mn)
              // floor at one row: the segment survived zone pruning, so the
              // predicate admits SOMETHING here — never report it empty
              frac = math.min(frac,
                math.max(ov, 1.0 / math.max(1L, st.rows).toDouble))
            }
          }
        }
      }
      // per-segment CLAMP (r20): the byte-prefix model assumes uniformity —
      // clustered string data (one hot prefix) can collapse the overlap to
      // near zero, and an under-estimate flips broadcast/join decisions the
      // other direction with no recovery. 1/64 of the segment matches the
      // histogram-bin granularity the CBO's other estimates bottom out at.
      st.rows * math.max(frac, 1.0 / 64)
    }.sum
    Some(math.max(1L, math.round(est)))
  }

  /** Runtime (join-driven) segment pruning state: re-plans the SAME pruned
    * parquet scan (schema + pushed filters replayed) over the segments a
    * runtime IN predicate proves live — see GraftRuntimePrune. Also used by
    * the DV composite builder for its clean and dirty sides (zone/bloom
    * over-approximate LIVE rows, so segment-level runtime pruning stays
    * sound under delete vectors). Advertisement is bounded by `readSchema`:
    * Spark resolves filterAttributes against the scan output, and a
    * pruned-away column can never be a join key anyway. */
  private[catalog] def runtimePrune(readSchema: StructType): GraftRuntimePrune = {
    val (schemaNow, pushedNow) = (prunedSchema, lastPushed)
    new GraftRuntimePrune(dirs => replayed(dirs, schemaNow, pushedNow).build(),
      live, zstats, readSchema)
  }
}

/** One column's planner-facing committed statistics (r18): NDV (merged HLL),
  * null count, typed min/max (zone maps), and an optional equi-height
  * histogram (merged KLL quantile sketches) — everything
  * SupportsReportStatistics can carry to the CBO with zero file IO. */
private[catalog] final case class GraftColStats(
    ndv: Option[Long], nulls: Option[Long],
    min: Option[AnyRef], max: Option[AnyRef],
    histogram: Option[(Double, Array[(Double, Double, Long)])])

/** The Scan every graft read plans: batch delegates straight to the pruned
  * parquet scan; `toMicroBatchStream` makes the SAME table a Structured
  * Streaming SOURCE following the snapshot log (`readStream.table(...)`) —
  * offsets are snapshot ids, each micro-batch reads exactly the segments
  * appended in its offset range. The Delta/Iceberg streaming-source shape:
  * commits are the batch boundaries, checkpointed offsets give exactly-once
  * across restarts, and nothing is re-read because segment lists — not file
  * modification times — define "new data". */
private[catalog] final class GraftStreamableScan(
    inner: Scan, tableDir: Path, tableName: String, tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    // commit-harvested statistics for the segments this scan covers (zone
    // stats + opt-in NDV sketches) — reported to the planner so the
    // broadcast threshold and CBO see truth, not size heuristics. EXACT
    // unless a pushed string range refined the count into an estimate
    // (stringRangeRefined), hence the honest name (r20).
    reportedRows: Option[Long] = None,
    colStats: () => Map[String, GraftColStats] = () => Map.empty,
    // storage-partitioned-join plan (GraftSpj): present iff every visible
    // segment's partition key is plan-time-known and no key column was pruned
    spj: Option[GraftSpj.Info] = None,
    // runtime (DPP-style) SEGMENT pruning state — see GraftRuntimePrune
    runtime: Option[GraftRuntimePrune] = None) extends Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  override def readSchema(): StructType = inner.readSchema()

  /** In single-split mode (GraftSpj.SingleSplitKey, opt-in) every planned
    * split holds rows of exactly ONE partition tuple, so "sorted by the
    * partition keys" is trivially true per partition — reporting it lets the
    * sort-merge join over co-partitioned tables drop BOTH sides' Sort nodes.
    * The claim is made ONLY under that opt-in: in the default file-sized-split
    * mode Spark's own guard would drop it anyway (a reported sort survives
    * only when each key group holds at most one split), and plain scans keep
    * their parallelism instead of paying for an order most queries never use. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    spjActive match {
      case Some(info) if spjSingleSplit && scala.util.Try(SparkSession.active.conf
          .get("spark.sql.sources.v2.bucketing.sorting.enabled").toBoolean).getOrElse(false) =>
        info.dims.map(d => org.apache.spark.sql.connector.expressions.Expressions.sort(
          d.transform,
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case _ => Array.empty
    }

  private def spjSingleSplit: Boolean = scala.util.Try(
    SparkSession.active.conf.get(GraftSpj.SingleSplitKey).toBoolean).getOrElse(false)

  /** Opt-in via Spark's own SPJ switch: reporting a grouped layout also makes
    * BatchScanExec coalesce same-key splits into one task, so it must engage
    * only when the session asked Spark to exploit v2 partitioning. */
  private def spjActive: Option[GraftSpj.Info] = spj.filter(_ =>
    scala.util.Try(SparkSession.active.conf
      .get("spark.sql.sources.v2.bucketing.enabled").toBoolean).getOrElse(false))

  override def outputPartitioning()
    : org.apache.spark.sql.connector.read.partitioning.Partitioning = spjActive match {
    case Some(info) =>
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        info.transforms, info.numKeys)
    case None =>
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }
  // sizeInBytes passes through to the parquet scan (FileScan reports
  // post-pruning bytes): without this the wrapper makes DataSourceV2Relation
  // fall back to spark.sql.defaultSizeInBytes (= huge), losing STATIC
  // broadcast-hash-join planning and size-based DPP heuristics on graft
  // tables. numRows/columnStats come from the catalog's committed stats — a
  // metadata-only upgrade parquet scans can't make themselves.
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val passthrough = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        Some(s.estimateStatistics())
      case _ => None
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        passthrough.map(_.sizeInBytes()).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        reportedRows.map(java.util.OptionalLong.of).orElse(passthrough.map(_.numRows()))
          .getOrElse(java.util.OptionalLong.empty())
      private lazy val memo = colStats() // sketch unions run at most once
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        memo.foreach { case (name, st) =>
          m.put(org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                st.ndv.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
              override def nullCount(): java.util.OptionalLong =
                st.nulls.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                st.min.map(v => java.util.Optional.of(v: Object))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                st.max.map(v => java.util.Optional.of(v: Object))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                st.histogram.map { case (h, bs) =>
                  java.util.Optional.of(
                    new org.apache.spark.sql.connector.read.colstats.Histogram {
                      override def height(): Double = h
                      override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                        bs.map { case (lo0, hi0, ndv0) =>
                          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                            override def lo(): Double = lo0
                            override def hi(): Double = hi0
                            override def ndv(): Long = ndv0
                          }
                        }
                    })
                }.getOrElse(java.util.Optional.empty())
            })
        }
        m
      }
    }
  }
  override def toBatch: org.apache.spark.sql.connector.read.Batch = spjActive match {
    case Some(info) => GraftSpj.wrapBatch(inner.toBatch, info, spjSingleSplit)
    // BatchScanExec re-calls toBatch after filter(): serve the
    // runtime-pruned re-plan when segment pruning fired
    case None       => runtime.flatMap(_.current).getOrElse(inner).toBatch
  }
  override def description(): String = inner.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode = inner.columnarSupportMode()
  override def supportedCustomMetrics() = inner.supportedCustomMetrics()
  // runtime (DPP-style) filtering: SEGMENT-level pruning via committed zone
  // maps + bloom indexes (GraftRuntimePrune), except under an active
  // storage-partitioned-join plan (Spark requires a KeyGroupedPartitioning
  // scan to preserve its partitioning across filter()); the parquet scan
  // itself has no hive layout to prune, so there is nothing to pass through
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    runtime match {
      case Some(r) if spjActive.isEmpty => r.prunableColumns
      case _ => inner match {
        case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering => f.filterAttributes()
        case _ => Array.empty
      }
    }
  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtime match {
      case Some(r) if spjActive.isEmpty => r.filter(predicates)
      case _ => inner match {
        case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering => f.filter(predicates)
        case _ => ()
      }
    }
  override def toMicroBatchStream(checkpointLocation: String)
    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(tableDir, tableName, tableSchema, readSchema(), options)
}

/** Micro-batch stream over a graft table's snapshot log.
  *
  *   - offsets ARE snapshot ids (json = the id), so a checkpoint pins an
  *     exact table version and restarts resume without re-reads or loss;
  *   - `latestOffset` re-reads the tiny meta file — no file listing, no
  *     mtime scanning (the classic FileStreamSource cost at large dirs);
  *   - `planInputPartitions(a, b)` plans ONLY the segments appended in
  *     (a, b], via the same append-only set difference the batch changes
  *     feed uses; a replace/rewrite commit inside a range fails loudly —
  *     streaming a table under row-rewriting DML needs CDC row lineage this
  *     catalog honestly does not claim;
  *   - reads delegate to Spark's parquet reader factory with the STREAM's
  *     pruned read schema, so `readStream.table(t).select(one_col)` scans
  *     one column, same as batch.
  *
  * Expiry retention note: `expire_snapshots` must keep at least the
  * checkpointed horizon or a restarted reader fails (same operational
  * contract as Delta/Iceberg streaming sources). */
private[catalog] final class GraftMicroBatchStream(
    tableDir: Path, tableName: String, tableSchema: StructType,
    readSchema: StructType, options: CaseInsensitiveStringMap)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory}

  private final case class Snap(id: Long) extends Offset {
    override def json(): String = id.toString
  }

  private def meta: GraftMeta = GraftMeta.read(tableDir)

  /** `maxSnapshotsPerTrigger` (Delta's maxFilesPerTrigger analog, in COMMIT
    * units — the natural granularity here since a snapshot is one commit's
    * append): a stream catching up over a long snapshot history admits at
    * most N commits per micro-batch instead of swallowing the whole backlog
    * in one giant batch (unbounded state/shuffle on first start is the
    * classic new-subscriber failure at scale). Exactly-once is unaffected —
    * offsets are still snapshot ids, just advanced in bounded steps. */
  private val maxPerTrigger: Option[Long] =
    Option(options.get("maxSnapshotsPerTrigger")).map { v =>
      val n = v.toLong
      require(n > 0, s"maxSnapshotsPerTrigger must be positive, got $n")
      n
    }

  /** `maxBytesPerTrigger` (Delta's analog, the SIZE-based admission control
    * beside the commit-count one): admit snapshots until their appended
    * segments' on-disk bytes cross the budget — always at least ONE snapshot,
    * so a single oversized commit still drains instead of stalling the
    * stream. Sizing is driver-side file listing of just the candidate
    * snapshots' new segments (metadata IO, same class as planning). */
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map { v =>
      val n = v.toLong
      require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
      n
    }

  private def segmentBytes(seg: String): Long = {
    val d = tableDir.resolve(seg)
    if (!Files.isDirectory(d)) 0L
    else GraftMeta.listDir(d)
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
  }

  /** Largest admissible end snapshot in (from, cap] under the byte budget. */
  private def byteCappedEnd(m: GraftMeta, from: Long, cap: Long, budget: Long): Long = {
    var end = from
    var spent = 0L
    var v = from + 1
    while (v <= cap && (spent == 0L || spent < budget)) {
      if (m.snapshots.contains(v) && m.snapshots.contains(v - 1)) {
        val added = m.snapshots(v).filterNot(m.snapshots(v - 1).toSet)
        spent += added.map(segmentBytes).sum
        // first snapshot always admits (oversized single commits must drain)
        if (spent <= budget || end == from) end = v
      } else end = v // expired history inside the range fails loudly at plan
      v += 1
    }
    end
  }

  // Trigger.AvailableNow contract: pin "now" once at query start; bounded
  // batches then drain UP TO the pin and the query stops — commits landing
  // after the pin wait for the next run
  @volatile private var availableNowBound: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(meta.current)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[Snap].id
    val m = meta
    val cap = availableNowBound.fold(m.current)(math.min(m.current, _))
    val countCapped = maxPerTrigger.fold(cap)(n => math.min(cap, from + n))
    Snap(maxBytesPerTrigger.fold(countCapped)(b =>
      byteCappedEnd(m, from, countCapped, b)))
  }

  override def initialOffset(): Offset =
    Snap(Option(options.get("graft.stream.from")).map(_.toLong).getOrElse(0L))
  override def latestOffset(): Offset = Snap(meta.current)
  override def deserializeOffset(json: String): Offset = Snap(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // the streaming exec consumes rows in the STREAM's (possibly pruned) read
  // schema; the per-range scan must project identically
  private def batchOver(dirs: Seq[String]): Batch =
    GraftTable.parquetScan(tableName, dirs, tableSchema, options, Some(readSchema))
      .build().toBatch

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[Snap].id, end.asInstanceOf[Snap].id)
    if (a == b) return Array.empty
    val m = meta
    Seq(a, b).foreach(s => require(m.snapshots.contains(s),
      s"$tableName: streaming offset $s expired from the snapshot log " +
        s"(have ${m.snapshots.keys.toSeq.sorted.mkString(",")}); " +
        "expire_snapshots must retain the checkpointed horizon"))
    val base = m.snapshots(a)
    val target = m.snapshots(b)
    require(base.forall(target.contains),
      s"$tableName: snapshots $a..$b are not append-only (a replace/rewrite " +
        "commit landed in the range); the streaming source reads appends only")
    require(m.dvs.getOrElse(a, Map.empty) == m.dvs.getOrElse(b, Map.empty),
      s"$tableName: snapshots $a..$b are not append-only (a merge-on-read DELETE " +
        "committed a delete vector in the range); the plain streaming source " +
        "reads appends only — stream t.changes for row-level deletes")
    val dirs = target.filterNot(base.toSet).map(s => tableDir.resolve(s).toString)
    if (dirs.isEmpty) Array.empty else batchOver(dirs).planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // the factory closes over schemas and conf, not a file list: one built
    // over no dirs at all lists nothing and reads any range's partitions
    batchOver(Nil).createReaderFactory()
}

/** The row-level operation's group scan. Reads the load-time snapshot's
  * segments; on a PARTITIONED table it additionally participates in Spark's
  * runtime GROUP filtering: `filterAttributes` advertises the partition
  * columns, and the delivered runtime predicate (the distinct partition
  * values of rows the DML touches) drops whole segments via their zone maps
  * BEFORE any file is opened, recording the survivors on the operation so the
  * commit swaps exactly what was read. Pruning is segment-granular only —
  * never file-granular — because the commit's replacement unit is the
  * segment; and it is conservative (untranslatable predicates or missing
  * stats keep the segment: a wrongly-kept segment is rewritten byte-identical,
  * never lost). The inner ParquetScan's own runtime FILE filtering stays
  * hidden for the same reason it always was: files pruned below the
  * replacement set would drop untouched rows. */
private[catalog] final class GroupScan(
    op: GraftRowLevelOperation, tableName: String, options: CaseInsensitiveStringMap,
    baseSegments: Seq[String], tableDir: Path, meta: GraftMeta,
    prunedSchema: Option[StructType]) extends Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** The group scan must serve the table's LIVE rows: a DV'd segment read
    * raw would resurrect its deleted rows in the rewrite's replacement
    * segments. DV'd groups read through the same row-index position filter
    * the batch scan uses; clean groups keep the plain path. */
  private def buildInner(segs: Seq[String]): Scan = {
    val dvMap = GraftDv.forSegments(meta, meta.current, segs)
    val rs = meta.readSchema
    def one(ss: Seq[String], schema: StructType, prune: Option[StructType]): Scan =
      GraftTable.parquetScan(tableName, ss.map(s => tableDir.resolve(s).toString),
        schema, options, prune).build()
    if (dvMap.isEmpty) one(segs, rs, prunedSchema)
    else {
      val dirty = segs.filter(dvMap.contains)
      val clean = segs.filterNot(dvMap.contains)
      val real = prunedSchema.getOrElse(rs)
      new GraftDvScan(
        if (clean.isEmpty) None else Some(one(clean, rs, Some(real))),
        one(dirty, StructType(rs.fields :+ GraftDv.RowIdxField),
          Some(StructType(real.fields :+ GraftDv.RowIdxField))),
        GraftDv.listDvFiles(tableDir, dvMap.valuesIterator.flatten.toSeq.distinct), real)
    }
  }

  private var inner: Scan = buildInner(baseSegments)

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    GraftPartitions.cols(meta.props)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // V2 predicate → catalyst expression via its SQL form (the canDeleteWhere
    // trick), resolved against the table schema so mayMatch sees typed
    // attribute references; any translation failure keeps every segment
    val exprs = predicates.toSeq.flatMap { p =>
      scala.util.Try {
        val sql = new org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder().build(p)
        SparkSession.active.sessionState.sqlParser.parseExpression(sql).transformUp {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if u.nameParts.length == 1 =>
            val f = meta.schema.fields
              .find(_.name.equalsIgnoreCase(u.nameParts.head))
              .getOrElse(throw new IllegalArgumentException(s"no column ${u.nameParts.head}"))
            org.apache.spark.sql.catalyst.expressions.AttributeReference(
              f.name, f.dataType, f.nullable)()
        }
      }.toOption
    }
    val survivors =
      if (exprs.size != predicates.length) baseSegments // something untranslatable
      else baseSegments.filter { name =>
        meta.zstats.get(name) match {
          case Some(enc) =>
            val st = scala.util.Try(SegmentStats.decode(enc)).toOption
            st.forall(s => exprs.forall(e => SegmentStats.mayMatch(s, e)))
          case None => true
        }
      }
    op.scannedSegments = Some(survivors)
    if (survivors.size < baseSegments.size) inner = buildInner(survivors)
  }

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: org.apache.spark.sql.connector.read.Batch = inner.toBatch
  override def description(): String = s"graft-group-scan(${inner.description()})"
  override def columnarSupportMode(): Scan.ColumnarSupportMode = inner.columnarSupportMode()
  override def supportedCustomMetrics() = inner.supportedCustomMetrics()
}

private[catalog] final class GraftWriteBuilder(
    tableDir: Path, info0: LogicalWriteInfo, replaceOnCommit: Boolean,
    fromRowLevelOp: Boolean = false, expectedCurrent: Option[Long] = None,
    // row-level ops under runtime GROUP filtering: the segments the group
    // scan actually read (evaluated at commit time — the runtime filter runs
    // while the replacement query executes, before any commit). Some(segs) →
    // swap exactly those; None → replace the whole load-time snapshot.
    groupRemovals: () => Option[Seq[String]] = () => None)
  extends WriteBuilder with SupportsOverwriteV2 with SupportsDynamicOverwrite {

  // the write schema carries the table's stable column ids so every path —
  // plain append, partitioned, streaming, row-level replacement — stamps
  // parquet footer field ids (the RENAME COLUMN substrate, GraftFieldIds)
  private val info: LogicalWriteInfo =
    GraftFieldIds.overlayInfo(info0, GraftMeta.read(tableDir).schema)

  private var replace = replaceOnCommit
  private var dynamicPartitionOverwrite = false

  override def truncate(): WriteBuilder = { replace = true; this }

  /** INSERT OVERWRITE arrives as overwrite-by-filter; only the full-table form
    * (always-true predicate) maps onto snapshot replacement. (Partition-scoped
    * overwrite is the DYNAMIC path below — partitionOverwriteMode=dynamic or
    * `writeTo(t).overwritePartitions()`.) */
  override def overwrite(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): WriteBuilder = {
    require(predicates.forall(_.name() == "ALWAYS_TRUE"),
      "graft catalog: only full-table INSERT OVERWRITE is supported " +
        "(for partition-scoped overwrite use dynamic overwrite mode)")
    replace = true
    this
  }

  /** Dynamic partition overwrite (Iceberg's replace-partitions commit): the
    * partitions PRESENT IN THE WRITTEN DATA swap out atomically; untouched
    * partitions carry by reference. On an unpartitioned table this is a plain
    * truncating overwrite. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicPartitionOverwrite = true
    this
  }

  override def build(): Write = {
    val propsAtBuild = GraftMeta.read(tableDir).props
    val routed = GraftPartitions.routedFields(propsAtBuild)
    if (routed.nonEmpty) {
      // dynamic overwrite on a BUCKET table would replace whole hash buckets
      // based on which keys happen to appear in the batch — a data-dependent
      // blast radius no user intends; identity partitions keep the feature
      require(!dynamicPartitionOverwrite || routed.forall(_.bucketN.isEmpty),
        "graft: dynamic partition overwrite is not supported on " +
          "bucket-partitioned tables (a batch would replace whole hash buckets)")
      new GraftPartitionedWrite(tableDir, info, routed,
        replaceAll = replace && !dynamicPartitionOverwrite,
        dynamicOverwrite = dynamicPartitionOverwrite,
        fromRowLevelOp = fromRowLevelOp, expectedCurrent = expectedCurrent,
        groupRemovals = groupRemovals)
    } else GraftZOrder.of(propsAtBuild) match {
      // z-order-routed table (rewrite_clustered persisted its routing spec):
      // every batch write — append, overwrite, row-level COW replacement —
      // lands per-cell segments, so the grid survives ongoing ingest and DML
      // (on an unpartitioned table dynamic overwrite means truncate, as below)
      case Some(spec) =>
        new GraftClusteredWrite(tableDir, info, spec,
          replaceAll = replace || dynamicPartitionOverwrite,
          fromRowLevelOp = fromRowLevelOp, expectedCurrent = expectedCurrent,
          groupRemovals = groupRemovals)
      case None => buildUnpartitioned()
    }
  }

  private def buildUnpartitioned(): Write = new Write with RequiresDistributionAndOrdering {
    if (dynamicPartitionOverwrite) replace = true // unpartitioned: = truncate
    // WAP: `.option("graft.branch", b)` stages this append onto branch `b`
    // instead of committing a main snapshot. Appends only — WAP stages
    // additions for audit; it is not a parallel DML surface.
    private val branch = Option(info.options.get("graft.branch"))
    branch.foreach { b =>
      require(!replace && !dynamicPartitionOverwrite && !fromRowLevelOp,
        "graft: branch writes are plain appends (no overwrite/DML on a branch)")
      // fail before the job runs, not at commit (commitToBranch re-checks
      // under the lock — a concurrent drop_branch still fails the commit)
      require(GraftRefs.get(GraftMeta.read(tableDir), b).isDefined,
        s"graft: no branch '$b' — CALL create_branch first")
    }
    // table-owned write layout: the TABLE declares its clustering/sort once and
    // every writer — INSERT, streaming foreachBatch, MERGE replacement — gets
    // the same physical layout; Spark's DistributionAndOrderingUtils plans the
    // shuffle/sort, so an unclustered table costs nothing extra
    // one meta read serves props, the idempotency check, and the commit-time
    // schema (the streaming hot path re-entered this three times)
    private val metaAtBuild = GraftMeta.read(tableDir)
    private val props = metaAtBuild.props
    override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
      props.get(GraftTable.ClusterByProp) match {
        case Some(cols) => org.apache.spark.sql.connector.distributions.Distributions.clustered(
          cols.split(',').map(c => org.apache.spark.sql.connector.expressions.Expressions.column(c.trim))
            .toArray[org.apache.spark.sql.connector.expressions.Expression])
        case None => org.apache.spark.sql.connector.distributions.Distributions.unspecified()
      }
    override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      props.get(GraftTable.OrderByProp).toSeq.flatMap(_.split(',')).map { c =>
        org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c.trim),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
      }.toArray
    // each write lands in a fresh immutable segment dir; the Hadoop commit
    // protocol (task temp files + job commit) is Spark's own, via ParquetWrite.
    // A writer may NAME the segment (`graft.segment` option) to make the commit
    // idempotent: re-running a write with the same name is a no-op — the
    // exactly-once contract streaming foreachBatch ingestion needs (name the
    // segment after the batch id; a replayed epoch discards its rows instead
    // of appending twice).
    private val named = Option(info.options.get("graft.segment"))
    named.foreach(n => require(n.matches("[A-Za-z0-9_.\\-]+"),
      s"graft.segment must be [A-Za-z0-9_.-]+, got '$n'"))
    private val segment =
      named.map("seg-" + _).getOrElse(s"seg-${UUID.randomUUID().toString.take(12)}")
    // the durable registry is authoritative (it survives compaction folding
    // the segment away and expiry deleting its dir); the snapshot scan covers
    // tables written before the registry existed
    private val alreadyCommitted = named.isDefined &&
      (metaAtBuild.committedNamed.contains(segment) ||
        metaAtBuild.snapshots.valuesIterator.exists(_.contains(segment)))
    // a crashed earlier attempt can leave files in the named dir without a
    // meta commit (job committed, meta swap never ran); a retry must start
    // from an empty segment or the table would read doubled rows. (A ZOMBIE
    // first attempt still writing concurrently is out of scope — streaming
    // guarantees one active writer per query; the commit itself additionally
    // refuses to list a named segment twice, so the failure degrades to a
    // torn segment, never doubled rows.)
    if (named.isDefined && !alreadyCommitted)
      GraftMeta.deleteRecursively(tableDir.resolve(segment))
    private val inner: Write =
      ParquetWrite(Seq(tableDir.resolve(segment).toString), "parquet", _ => true, info)

    override def description(): String = s"graft-write($segment, replace=$replace)"

    /** `writeStream.toTable` — the native exactly-once streaming sink
      * (GraftStreamingWrite). Append mode only. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!replace && !dynamicPartitionOverwrite && branch.isEmpty && !fromRowLevelOp,
        "graft: streaming writes are plain appends")
      // identity tables stream fine: allocation rides the per-epoch factory
      // (fresh high-water per micro-batch) and the epoch commit's prop CAS
      new GraftStreamingWrite(tableDir, info, Nil, metaAtBuild)
    }

    override def toBatch: BatchWrite =
      if (alreadyCommitted) new NoopBatchWrite(segment) else new BatchWrite {
      private val delegate = inner.toBatch
      // identity allocation: specs carry the build-time high-water; the
      // commit CAS-advances it and fails loudly on a concurrent allocator.
      // Branch (WAP) appends allocate too (r18): the high-water advances in
      // the BRANCH commit's propCas rider, so staged and main allocations
      // stay disjoint; a dropped branch leaves a gap, never a collision.
      private val identitySpecs = GraftIdentity.of(props, info.schema())
      override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
        // CHECK constraints gate every row entering the segment; wrapped
        // INSIDE the op-stripping layer so checks always see plain data rows
        // (bound against the WRITE schema — the authoritative row layout)
        // generated columns fill OUTSIDE the checks so constraints see final
        // values; op-stripping stays outermost so both see plain data rows
        val f = GraftGenerate.wrap(
          GraftChecks.wrap(delegate.createBatchWriterFactory(pInfo),
            info.schema(), props, segment),
          info.schema(), props, segment)
        // Group-based replace-data rows arrive as [__row_operation, data...]:
        // with no metadata attrs declared, ReplaceDataExec runs the plain
        // writing task, which does NOT apply the row projection (Spark's own
        // DataAndMetadataWritingSparkTask likewise pins the op column at
        // ordinal 0) — so the op column is stripped here, at the writer.
        if (fromRowLevelOp)
          new OpStrippingWriterFactory(
            // existing rows carry ids; NULLs are MERGE-INSERT-minted rows —
            // allocated here, high-water advanced in the rewrite commit's
            // propCas rider (r18)
            GraftIdentity.rowLevelWrap(f, identitySpecs, info.schema(),
              pInfo.numPartitions(), segment), info.schema())
        else
          // identity fills OUTSIDE generation/checks so both see final values
          GraftIdentity.wrap(f, identitySpecs, info.schema(),
            pInfo.numPartitions(), segment)
      }
      override def useCommitCoordinator(): Boolean = delegate.useCommitCoordinator()
      override def commit(rawMessages: Array[WriterCommitMessage]): Unit = {
        val (messages, identityMaxes) = GraftIdentity.unwrap(rawMessages, identitySpecs)
        delegate.commit(messages) // files are now live in the segment dir
        // zone maps harvested from the just-written parquet footers (no
        // second read); a stats failure must never fail the write — segments
        // without stats simply never prune
        val stats = scala.util.Try(SegmentStats.encode(SegmentStats.harvest(
          SparkSession.active, tableDir.resolve(segment).toString,
          metaAtBuild.readSchema,
          SegmentStats.sumCols(metaAtBuild.props, metaAtBuild.schema),
          GraftBloom.cols(metaAtBuild.props, metaAtBuild.schema),
          SegmentStats.ndvCols(metaAtBuild.props, metaAtBuild.schema),
          klls = SegmentStats.kllCols(metaAtBuild.props, metaAtBuild.schema)))).toOption
        (branch, groupRemovals()) match {
          case (Some(b), _) =>
            // WAP: extend the ref's staged list; main's current never moves.
            // Identity allocations advance the high-water HERE (stage time)
            GraftRefs.commitToBranch(tableDir, b, Seq(segment -> stats),
              propCas = GraftIdentity.propCas(identitySpecs, identityMaxes))
          case (None, Some(removed)) if fromRowLevelOp =>
            // runtime group filtering ran: the replacement rows cover exactly
            // the scanned segments — swap those, carry the rest by reference;
            // MERGE-INSERT-minted identity ids advance the high-water in the
            // same CAS
            GraftMeta.commitReplaceSegments(tableDir, Seq(segment -> stats),
              removed.toSet, expectedCurrent,
              propCas = GraftIdentity.propCas(identitySpecs, identityMaxes))
          case _ =>
            GraftMeta.commit(tableDir, segment, replace, stats,
              if (fromRowLevelOp) expectedCurrent else None, // atomic snapshot swap
              named = named.isDefined,
              propCas = GraftIdentity.propCas(identitySpecs, identityMaxes))
        }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        delegate.abort(GraftIdentity.unwrap(messages, identitySpecs)._1) // meta untouched
    }
  }
}

/** The replayed-epoch path of idempotent named-segment writes: rows are
  * discarded at the writer (no IO — the segment's files are already live) and
  * commit touches neither disk nor metadata. */
private[catalog] final class NoopBatchWrite(segment: String) extends BatchWrite {
  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory =
    new DataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
        new DataWriter[InternalRow] {
          override def write(row: InternalRow): Unit = ()
          override def commit(): WriterCommitMessage = new WriterCommitMessage {}
          override def abort(): Unit = ()
          override def close(): Unit = ()
        }
    }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def toString: String = s"graft-noop-write($segment: already committed)"
}

/** Strips the leading `__row_operation` column off replace-data rows before
  * they reach the parquet writer (ordinals 1..n → data schema 0..n-1). */
private[catalog] final class OpStrippingWriterFactory(
    inner: DataWriterFactory, dataSchema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val d = inner.createWriter(partitionId, taskId)
    new DataWriter[InternalRow] {
      private val proj =
        new ProjectingInternalRow(dataSchema, (1 to dataSchema.length).toIndexedSeq)
      override def write(row: InternalRow): Unit = { proj.project(row); d.write(proj) }
      override def commit(): WriterCommitMessage = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
      override def currentMetricsValues() = d.currentMetricsValues()
    }
  }
}
