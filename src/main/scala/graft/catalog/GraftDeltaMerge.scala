package graft.catalog

import java.nio.file.{Files, Path}
import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL `MERGE INTO` routed through MERGE-ON-READ — Spark's DELTA row-level
  * write path (`SupportsDelta`), re-derived from the published connector
  * contract (contract only, no code): when a graft table declares
  * `graft.update-mode` = 'merge-on-read', MERGE no longer rewrites the
  * touched segment groups (the copy-on-write `ReplaceData` plan q152 pins).
  * Instead Spark hands the writer each row's OPERATION — delete / update /
  * insert — together with its ROW ID, and the commit is the q223 upsert
  * shape: matched rows' old positions die in a positional delete vector,
  * new row versions append as fresh partition-pure segments, untouched
  * rows are never read back or rewritten. Cost is O(rows-touched), not
  * O(touched-segment bytes) — on a 100 TB table a MERGE updating one key
  * per segment writes kilobytes where the group rewrite writes the
  * segments back whole.
  *
  * ROW IDS are (`__graft_sf`, `__graft_pos`): the segment-qualified file
  * name (`seg/file` — bare names collide across partition segments, see
  * GraftDv.loadPositions) and the row's parquet ordinal. They surface
  * through the V2 metadata-column channel ([[GraftTable.metadataColumns]]):
  * Spark resolves `SupportsDelta.rowId` against the relation's metadata
  * output, plans them into the merge's read, and ships them back to
  * [[GraftDeltaWriter.delete]]/update — exactly the Iceberg `_file`/`_pos`
  * position-delta shape. The delta scan serves them from the same parquet
  * row-index machinery the DV read path uses, and is itself DV-merged, so
  * a MERGE over already-vectored rows neither resurrects nor double-deletes.
  *
  * The commit is SERIALIZABLE (expectedCurrent pins the scanned snapshot):
  * MERGE's "matched rows become their new versions" contract is not
  * append-commutative — same rule as upsertMor. */
private[catalog] object GraftDeltaMerge {
  /** Row-identity metadata columns: segment-qualified file + row ordinal. */
  val SfCol = "__graft_sf"
  val PosCol = "__graft_pos"

  def isDeltaMerge(info: RowLevelOperationInfo, props: Map[String, String]): Boolean =
    info.command() == RowLevelOperation.Command.MERGE &&
      GraftDv.mode(props, GraftDv.UpdateModeProp) == GraftDv.ModeMor
}

private[catalog] final class GraftDeltaOperation(
    table: GraftTable, info: RowLevelOperationInfo)
  extends RowLevelOperation with SupportsDelta {

  private val metaAtLoad = table.metaAtLoad
  private val segs: Seq[String] =
    metaAtLoad.snapshots.getOrElse(metaAtLoad.current, Nil)

  override def command(): RowLevelOperation.Command = info.command()

  override def description(): String =
    s"graft-delta-merge(${table.name()}, snapshot=${metaAtLoad.current})"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftDeltaMerge.SfCol),
      Expressions.column(GraftDeltaMerge.PosCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftDeltaScanBuilder(table.name(), table.dir, metaAtLoad, segs, options)

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(table.dir, metaAtLoad, writeInfo)
    }
}

/** Scan for the delta merge read: every data column requested plus the two
  * row-id columns, served per file — the inner parquet scan carries the
  * row-index helper column (the DV dirty-read machinery), the reader wrapper
  * attaches the partition's constant `seg/file` and filters rows already
  * dead under the snapshot's existing delete vectors. */
private[catalog] final class GraftDeltaScanBuilder(
    tableName: String, tableDir: Path, meta: GraftMeta, segs: Seq[String],
    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  // default output: full row + row id (the merge write needs both); READ
  // schema so resolution is by name until the table flips to field ids
  private var required: StructType = StructType(
    meta.readSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(GraftDeltaMerge.SfCol, StringType, nullable = false),
      org.apache.spark.sql.types.StructField(GraftDeltaMerge.PosCol, LongType, nullable = false)))

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan =
    new GraftDeltaScan(tableName, tableDir, meta, segs, required, options)
}

private[catalog] final class GraftDeltaScan(
    tableName: String, tableDir: Path, meta: GraftMeta, segs: Seq[String],
    required: StructType, options: CaseInsensitiveStringMap) extends Scan {

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-delta-scan($tableName, ${segs.size} segments)"

  override def toBatch: Batch = {
    val spark = SparkSession.active
    val dataFields = required.fields.filterNot(f =>
      f.name == GraftDeltaMerge.SfCol || f.name == GraftDeltaMerge.PosCol)
    // inner parquet read: requested data columns + the row-index helper
    // column both parquet readers synthesize (GraftDv.RowIdxField)
    val innerSchema = StructType(dataFields :+ GraftDv.RowIdxField)
    val inner =
      if (segs.isEmpty) None
      else Some(GraftTable.parquetScan(tableName,
        segs.map(s => tableDir.resolve(s).toString), innerSchema, options).build())
    val dvMap = GraftDv.forSegments(meta, meta.current, segs)
    val positions = GraftDv.loadPositions(spark, tableDir,
      dvMap.values.flatten.toSeq.distinct)
    new GraftDeltaBatch(inner.map(_.toBatch), innerSchema, required, positions)
  }
}

/** One file's partition: the constant `seg/file` row id prefix and the
  * file's already-deleted positions ride with the split. */
private[catalog] final case class GraftDeltaPartition(
    inner: FilePartition, segAndFile: String,
    deadPositions: Array[Long]) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private[catalog] final class GraftDeltaBatch(
    inner: Option[Batch], innerSchema: StructType, required: StructType,
    positions: Map[String, Array[Long]]) extends Batch {

  private def segAndFile(f: org.apache.spark.sql.execution.datasources.PartitionedFile): String = {
    val p = f.filePath.toUri.getPath
    val i = p.lastIndexOf('/')
    p.substring(p.lastIndexOf('/', i - 1) + 1)
  }

  override def planInputPartitions(): Array[InputPartition] =
    inner.map(_.planInputPartitions().flatMap {
      case fp: FilePartition =>
        // regroup so each partition covers exactly one file: the row-id
        // prefix and the dead-position filter are per-file
        fp.files.groupBy(_.filePath.toString).values.map { files =>
          val sf = segAndFile(files.head)
          GraftDeltaPartition(FilePartition(0, files), sf,
            positions.getOrElse(sf, Array.emptyLongArray))
        }
      case other => throw new IllegalStateException(
        s"graft-delta: unexpected non-file partition ${other.getClass.getName}")
    }.zipWithIndex.map { case (p, i) =>
      p.copy(inner = p.inner.copy(index = i))
    }.toArray[InputPartition]).getOrElse(Array.empty)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftDeltaReaderFactory(
      inner.map(_.createReaderFactory()).orNull, innerSchema, required)
}

private[catalog] final class GraftDeltaReaderFactory(
    innerFactory: PartitionReaderFactory, innerSchema: StructType,
    required: StructType) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case GraftDeltaPartition(inner, sf, dead) =>
      val r = innerFactory.createReader(inner)
      val rowIdxOrdinal = innerSchema.fieldIndex(GraftDv.RowIdxCol)
      // requested column -> inner ordinal / constant / row index
      val exprs: IndexedSeq[Expression] = required.fields.map { f =>
        if (f.name == GraftDeltaMerge.SfCol)
          Literal(UTF8String.fromString(sf), StringType)
        else if (f.name == GraftDeltaMerge.PosCol)
          BoundReference(rowIdxOrdinal, LongType, nullable = false)
        else {
          val i = innerSchema.fieldIndex(f.name)
          BoundReference(i, innerSchema.fields(i).dataType, innerSchema.fields(i).nullable)
        }
      }.toIndexedSeq
      val proj = UnsafeProjection.create(exprs)
      new PartitionReader[InternalRow] {
        override def next(): Boolean = {
          while (r.next()) {
            val row = r.get()
            if (dead.length == 0 ||
                java.util.Arrays.binarySearch(dead, row.getLong(rowIdxOrdinal)) < 0)
              return true // live under the snapshot's existing vectors
          }
          false
        }
        override def get(): InternalRow = proj(r.get())
        override def close(): Unit = r.close()
      }
    case other => throw new IllegalStateException(
      s"graft-delta: unexpected partition ${other.getClass.getName}")
  }
}

/** The delta write: per-task parquet writers route INSERTED rows into
  * partition-pure staged files (same layout contract as every other graft
  * writer — the table's cluster-by/order-by apply), DELETE/UPDATE callbacks
  * buffer the superseded positions, and the driver publishes ONE atomic
  * snapshot: positions as a delete vector + staged files as new segments. */
private[catalog] final class GraftDeltaWrite(
    tableDir: Path, metaAtLoad: GraftMeta, info: LogicalWriteInfo)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  private val props = metaAtLoad.props
  private val partCols = GraftPartitions.cols(props)
  // carry the table's stable column ids into the appended segments' footers
  // (the RENAME COLUMN substrate, GraftFieldIds)
  private val dataSchema: StructType =
    GraftFieldIds.overlayIds(info.schema(), metaAtLoad.schema)

  override def description(): String =
    s"graft-delta-write(partitions=${partCols.mkString(",")})"

  /** Partition-first clustering, as in GraftPartitionedWrite: delete rows
    * carry null data columns and hash wherever — harmless, the writer
    * routes by callback, not by value. */
  override def requiredDistribution(): Distribution = {
    val cluster = props.get(GraftTable.ClusterByProp).toSeq.flatMap(_.split(',')).map(_.trim)
    val all = (partCols ++ cluster.filterNot(partCols.contains))
      .filter(c => dataSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (all.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      all.map(Expressions.column).toArray[org.apache.spark.sql.connector.expressions.Expression])
  }

  override def requiredOrdering(): Array[SortOrder] =
    props.get(GraftTable.OrderByProp).toSeq.flatMap(_.split(',')).map { c =>
      Expressions.sort(Expressions.column(c.trim), SortDirection.ASCENDING)
    }.toArray

  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(tableDir, metaAtLoad, dataSchema, partCols)
}

/** One task's outcome: staged (partition suffix, file) pairs plus the
  * positions its delete/update callbacks superseded. */
private[catalog] final case class GraftDeltaMessage(
    files: Seq[(String, String)],
    positions: Array[(String, Long)]) extends WriterCommitMessage

private[catalog] final class GraftDeltaBatchWrite(
    tableDir: Path, metaAtLoad: GraftMeta, dataSchema: StructType,
    partCols: Seq[String]) extends DeltaBatchWrite {

  private val writeId = UUID.randomUUID().toString.take(12)
  private val staging = tableDir.resolve(s"seg-staging@${UUID.randomUUID().toString.take(12)}")

  private val partFields: Seq[(Int, org.apache.spark.sql.types.DataType)] = partCols.map { c =>
    val i = dataSchema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
    require(i >= 0, s"graft: partition column '$c' missing from write schema $dataSchema")
    (i, dataSchema.fields(i).dataType)
  }

  // identity columns (r19): the delta writer mints for NULL ids on its
  // insert path (same fill-indexed allocator contract as rowLevelWrap) and
  // the commit advances the high-water via propCas on the same CAS
  private val idSpecs = GraftIdentity.of(metaAtLoad.props, metaAtLoad.schema)

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty[String, String], dataSchema)
    new GraftDeltaWriterFactory(owf,
      new SerializableHadoopConf(job.getConfiguration),
      staging.toString, dataSchema, partFields,
      GraftPartitions.specId(metaAtLoad.props),
      idSpecs, pInfo.numPartitions(), tableDir.getFileName.toString)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // identity (r19): unwrap per-task extremes and build the high-water
    // propCas riders — the same commit that lands the delta publishes them
    val (unwrapped, extremes) = GraftIdentity.unwrap(messages, idSpecs)
    val idRiders = GraftIdentity.propCas(idSpecs, extremes)
    val msgs = unwrapped.collect { case m: GraftDeltaMessage => m }
    val manifest = msgs.flatMap(_.files)
    val allPositions = msgs.flatMap(_.positions)
    try {
      val byPart: Map[String, Seq[String]] =
        manifest.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      // land files serially (cheap renames), then harvest all landed segments
      // CONCURRENTLY (r22 — the r21 landManifest pattern applied to MERGE's
      // commit: a multi-partition merge paid one serial footer pass per
      // partition segment)
      val landed = byPart.toSeq.sortBy(_._1).map { case (enc, fileNames) =>
        val seg =
          if (partCols.isEmpty) s"seg-$writeId"
          else s"seg-$writeId${GraftPartitions.Marker}$enc"
        val segDir = tableDir.resolve(seg)
        Files.createDirectories(segDir)
        fileNames.foreach(f =>
          Files.move(staging.resolve(enc).resolve(f), segDir.resolve(f)))
        (seg, segDir)
      }
      val allStats = SegmentStats.harvestAll(
        SparkSession.active, landed.map(_._2.toString), metaAtLoad.readSchema,
        SegmentStats.sumCols(metaAtLoad.props, metaAtLoad.schema),
        GraftBloom.cols(metaAtLoad.props, metaAtLoad.schema),
        SegmentStats.ndvCols(metaAtLoad.props, metaAtLoad.schema),
        klls = SegmentStats.kllCols(metaAtLoad.props, metaAtLoad.schema))
      val segments = landed.map(_._1).zip(allStats)
      if (allPositions.isEmpty && segments.isEmpty) return
      val cleanup = () => segments.foreach { case (s, _) =>
        scala.util.Try(GraftMeta.deleteRecursively(tableDir.resolve(s)))
      }
      try {
        if (allPositions.isEmpty) {
          // insert-only merge: plain append, still serializable
          val applied = GraftMeta.commitMany(tableDir, segments, replaceAll = false,
            removeSuffixes = Set.empty,
            expectedCurrent = Some(metaAtLoad.current), namedKey = None,
            propCas = idRiders)
          if (!applied) cleanup()
        } else {
          // positions -> one dv-* parquet in the existing DV format; the
          // driver already holds them (O(rows matched), the same class as
          // GraftDv.loadPositions), one tiny local write
          val spark = SparkSession.active
          val dvName = s"${GraftDv.Prefix}${UUID.randomUUID().toString.take(12)}"
          val rows = allPositions.toSeq.map { case (sf, pos) =>
            val cut = sf.indexOf('/')
            org.apache.spark.sql.Row(sf.substring(0, cut), sf.substring(cut + 1), pos)
          }
          val dvSchema = StructType(Seq(
            org.apache.spark.sql.types.StructField("seg", StringType, nullable = false),
            org.apache.spark.sql.types.StructField("file", StringType, nullable = false),
            org.apache.spark.sql.types.StructField("pos", LongType, nullable = false)))
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), dvSchema)
            .write.parquet(tableDir.resolve(dvName).toString)
          val touched = rows.map(_.getString(0)).toSet
          val perSeg = rows.groupBy(_.getString(0))
            .map { case (s, rs) => s -> rs.size.toLong }
          try {
            GraftMeta.commitAddDeletesAndAppend(tableDir, dvName, touched,
              baseDvs = GraftDv.forSegments(metaAtLoad, metaAtLoad.current,
                touched.toSeq),
              newSegments = segments,
              expectedCurrent = Some(metaAtLoad.current),
              propCas = idRiders, dvSegCounts = perSeg)
          } catch {
            case e: Throwable =>
              scala.util.Try(GraftMeta.deleteRecursively(tableDir.resolve(dvName)))
              throw e
          }
        }
      } catch {
        case e: Throwable => cleanup(); throw e
      }
    } finally GraftMeta.deleteRecursively(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftMeta.deleteRecursively(staging)
}

private[catalog] final class GraftDeltaWriterFactory(
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableHadoopConf, staging: String, dataSchema: StructType,
    partFields: Seq[(Int, org.apache.spark.sql.types.DataType)],
    specId: Long,
    idSpecs: Seq[GraftIdentity.Spec] = Nil, numPartitions: Int = 1,
    tableName: String = "")
  extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(owf, conf, staging, dataSchema, partFields, partitionId, taskId,
      specId,
      if (idSpecs.isEmpty) None
      else Some(new GraftIdentity.RowAllocator(
        idSpecs, dataSchema, numPartitions, partitionId, tableName)))
}

/** Per-task delta writer. `id` rows are [__graft_sf, __graft_pos] in rowId()
  * declaration order (WriteDelta projects them so), `row` rows are the data
  * schema. Inserted rows route to per-partition staged parquet files exactly
  * like GraftPartitionedWriterFactory's writer. */
private[catalog] final class GraftDeltaWriter(
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableHadoopConf, staging: String, dataSchema: StructType,
    partFields: Seq[(Int, org.apache.spark.sql.types.DataType)],
    partitionId: Int, taskId: Long, specId: Long,
    allocator: Option[GraftIdentity.RowAllocator] = None)
  extends DeltaWriter[InternalRow] {

  import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

  private val ctx = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID("graft", 0, TaskType.MAP, partitionId, (taskId & 0x7fffffff).toInt))
  private val ext = owf.getFileExtension(ctx)
  private val extractors = partFields.map { case (i, dt) =>
    GraftPartitions.internalExtractor(dt, i)
  }
  private val writers =
    scala.collection.mutable.HashMap.empty[String, org.apache.spark.sql.execution.datasources.OutputWriter]
  private val manifest = Seq.newBuilder[(String, String)]
  private val positions = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  override def insert(row0: InternalRow): Unit = {
    // identity minting (r19): NULL identity values in inserted (and updated)
    // row versions allocate before partition routing — the filled id is
    // partition-irrelevant here, but the routing must see the final row
    val row = allocator.map(_.process(row0)).getOrElse(row0)
    val enc = GraftPartitions.suffix(extractors.map(_(row)), specId)
    writers.getOrElseUpdate(enc, {
      val file = s"part-$partitionId-$taskId$ext"
      manifest += enc -> file
      owf.newInstance(s"$staging/$enc/$file", dataSchema, ctx)
    }).write(row)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    positions += ((id.getUTF8String(0).toString, id.getLong(1)))

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    writers.clear()
    val inner = GraftDeltaMessage(manifest.result(), positions.toArray)
    allocator match {
      case Some(a) =>
        val (alloc, far, near) = a.maps
        GraftIdentity.IdentityCommitMessage(inner, alloc, far, near)
      case None => inner
    }
  }

  override def abort(): Unit =
    writers.values.foreach(w => scala.util.Try(w.close()))

  override def close(): Unit = ()
}
