package graft.sources.dwrf

import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based copy-on-write row-level operations: `UPDATE`, `MERGE
  * INTO`, and the DELETEs `canDeleteWhere` refuses (non-translatable
  * conditions, subqueries) all route here via
  * `SupportsRowLevelOperations`.
  *
  * The dance (Spark's group-based rewrite, the Iceberg
  * copy-on-write shape):
  *
  *  1. Spark asks the operation for a SCAN of candidate rows. The scan
  *     runs in copy-on-write mode: filters prune at FILE granularity
  *     only — a surviving file streams back EVERY row, because the
  *     rewritten output must carry its non-matching rows too — and the
  *     planning pass records exactly which files survived. Two prune
  *     tiers compose: the statement's STATIC pushed condition (stats +
  *     bloom per file — an UPDATE/DELETE WHERE on a selective or
  *     partition column rewrites only its files), and the RUNTIME
  *     group filter — `requiredMetadataAttributes` declares `_file`,
  *     so Spark's RowLevelOperationRuntimeGroupFiltering rule runs a
  *     matching-rows pass over the condition (for MERGE, joined
  *     against the source) and pushes `_file IN (matched)` into the
  *     scan, narrowing a join-keyed MERGE's rewrite to exactly the
  *     files holding matched rows (NOT MATCHED inserts ride the
  *     source side of the rewrite join, unaffected by the pruning).
  *  2. Spark computes the replacement rows (updated/merged + copied)
  *     and writes them through the operation's WriteBuilder. Tasks
  *     write INVISIBLE temps (`.rlo-*.tmp` — listings only admit
  *     `*.dwrf`), so a crashed job leaves the table untouched.
  *  3. Commit: a directory-level swap manifest (`.rlo-commit-*`) is
  *     written first — naming every rename and every replaced-file
  *     delete — then applied, then removed. [[DwrfCompact.recover]]
  *     (run by compact/delete/the next row-level commit) converges an
  *     interrupted swap: a readable manifest replays idempotently, a
  *     torn one rolls back (temps deleted, originals intact).
  *
  * Same per-operation atomicity contract as DELETE/compaction: a crash
  * mid-swap converges on the next maintenance pass; concurrent readers
  * of the raw directory may observe the swap non-atomically.
  */
final class DwrfRowLevelOperationBuilder(info: RowLevelOperationInfo,
    tableSchema: StructType, path: String, writeOptions: Map[String, String],
    partCols: Seq[String]) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new DwrfRowLevelOperation(info.command(), tableSchema, path,
      writeOptions, partCols)
}

final class DwrfRowLevelOperation(cmd: RowLevelOperation.Command,
    tableSchema: StructType, path: String, writeOptions: Map[String, String],
    partCols: Seq[String]) extends RowLevelOperation {

  // written by the scan's every planning pass; read at replace commit
  private val replacedFiles =
    new AtomicReference[ReplacedSet](ReplacedSet(Nil, Map.empty))

  override def command(): RowLevelOperation.Command = cmd

  /** Declares `_file` as the operation's metadata attribute, which arms
    * Spark's `RowLevelOperationRuntimeGroupFiltering` rule: the
    * optimizer plans a matching-rows pass over the statement's
    * condition (for MERGE, the ON clause joined against the source),
    * collects the DISTINCT `_file` values it touches, and pushes
    * `_file IN (matched)` into this operation's scan at runtime —
    * narrowing the rewrite to exactly the files holding matched rows.
    * The scan side accepts it in [[DwrfScan.filter]] (copy-on-write
    * mode) and re-records the replace set, so unmatched files are
    * never read, rewritten, or deleted. Shadowed `_file` (a data
    * column of that name) disables the metadata column, so request
    * nothing and fall back to rewriting every statically-surviving
    * file.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (tableSchema.fieldNames.contains(DwrfUtil.FileMetaColumn)) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(DwrfUtil.FileMetaColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asCaseSensitiveMap().asScala.toMap
    val b = new DwrfScanBuilder(tableSchema, path,
      org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(opts))
    b.replacedFilesOut = replacedFiles
    b
  }

  /** The replacement files must PRESERVE the physical layout, and a
    * catalog table created over an already-partitioned LOCATION (no
    * PARTITIONED BY clause — partition columns only inferred into the
    * schema) records no partitioning, so discover the layout keys from
    * the directory itself when the catalog has none.
    */
  private def layoutPartCols(): Seq[String] =
    if (partCols.nonEmpty) partCols
    else {
      val conf = DwrfUtil.sessionHadoopConf()
      val root = new Path(path)
      DwrfUtil.listDataFiles(root, conf).headOption
        .map(f => PartitionLayout.specOf(DwrfUtil.qualify(root, conf), f)
          .map(_._1)).getOrElse(Nil)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DwrfReplaceBatchWrite(info.schema(), path, writeOptions,
            layoutPartCols(), replacedFiles, cmd.toString.toLowerCase)
      }
    }

  override def description(): String = s"dwrf $cmd copy-on-write of $path"
}

/** The replace write: temps in, swap manifest, replaced files out. On a
  * snapshot table the swap only PROMOTES the temps — the replaced files
  * stay on disk for time travel and leave the live set through a
  * [[DwrfLog.commitReplace]] manifest commit, which is the atomic point
  * concurrent readers observe (and the conflict detector against a
  * concurrent rewrite of the same files).
  */
final class DwrfReplaceBatchWrite(writeSchema: StructType, path: String,
    options: Map[String, String], partCols: Seq[String],
    replacedFiles: AtomicReference[ReplacedSet],
    opName: String = "rowlevel") extends BatchWrite {

  // Spark's rewrite plans project table columns for group-based writes,
  // but guard anyway: a `_file` metadata attribute must never land as a
  // data column
  require(!writeSchema.fieldNames.contains(DwrfUtil.FileMetaColumn),
    s"row-level write schema must not contain ${DwrfUtil.FileMetaColumn}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = DwrfUtil.sessionHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // converge any earlier interrupted swap BEFORE planning new temps
    DwrfCompact.recover(p, conf)
    fs.mkdirs(p)
    new DwrfReplaceDataWriterFactory(writeSchema.json, path, options,
      new SerializableHadoopConf(conf), partCols, DwrfBucket.specOf(options))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(path)
    val temps = messages.flatMap {
      case DwrfCommitMessage(_, _, files) => files
      case _ => Nil
    }
    val renames = temps.toSeq.map { t =>
      val p = new Path(t)
      // ".rlo-<uuid>-pX-tY.tmp" -> "rlo-<uuid>-pX-tY.dwrf"
      t -> new Path(p.getParent,
        p.getName.stripPrefix(".").stripSuffix(".tmp") + ".dwrf").toString
    }
    if (DwrfLog.isEnabled(root, conf)) {
      // promote temps only; the manifest commit is the swap. A crash
      // between the two leaves promoted-but-unreferenced files —
      // invisible to every reader, reclaimed by vacuum.
      DwrfReplaceCommit.run(root, conf, renames, Nil)
      DwrfLog.commitReplace(root, conf,
        replacedFiles.get().files.map(new Path(_)),
        renames.map { case (_, dst) => new Path(dst) }, opName,
        observedDvs = replacedFiles.get().observedDvs)
    } else
      DwrfReplaceCommit.run(root, conf, renames, replacedFiles.get().files)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = DwrfUtil.sessionHadoopConf()
    messages.foreach {
      case DwrfCommitMessage(_, _, files) => files.foreach { f =>
        val p = new Path(f)
        try p.getFileSystem(conf).delete(p, false)
        catch { case _: Throwable => () }
      }
      case _ => ()
    }
  }
}

/** Invisible-temp writers: flat and partitioned reuse the normal data
  * writers, only the file names differ (`.rlo-*.tmp` — excluded from
  * every listing until the commit swap renames them to `*.dwrf`).
  */
final class DwrfReplaceDataWriterFactory(schemaJson: String, path: String,
    options: Map[String, String], hadoopConf: SerializableHadoopConf,
    partCols: Seq[String],
    bucketSpec: Option[(String, Int)] = None) extends DataWriterFactory {

  private val opId = java.util.UUID.randomUUID().toString.take(12)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(schemaJson).asInstanceOf[StructType]
    val conf = hadoopConf.value
    val tempName = f".rlo-$opId-p$partitionId%05d-t$taskId.tmp"
    val inner: DataWriter[InternalRow] = bucketSpec match {
      // bucketed table: the rewrite's temps carry the bucket suffix
      // (`.rlo-...-b00003.tmp`), so the commit-time rename to `*.dwrf`
      // PRESERVES the bucketed layout — a MERGE/UPDATE on a bucketed
      // fact table keeps its zero-shuffle joins instead of silently
      // dropping the report
      case Some((col, n)) =>
        new DwrfBucketedDataWriter(schema, new Path(path), col, n, options,
          Map.empty, conf, tempName.stripSuffix(".tmp"), ext = ".tmp")
      case None if partCols.isEmpty =>
        new DwrfFlatDataWriter(schema, new Path(path, tempName),
          options, Map.empty, conf)
      case None =>
        new DwrfPartitionedDataWriter(schema, new Path(path), partCols,
          options, Map.empty, conf, partitionId, taskId,
          fileName = Some(tempName))
    }
    new DwrfReplaceRowAdapter(inner, schema.length)
  }
}

/** Spark's group-based rewrite plans prepend a `__row_operation` marker
  * column (RowDeltaUtils.OPERATION_COLUMN) to the replacement rows, and
  * with no required metadata attributes the generic writing task hands
  * the MARKED row straight to the connector's DataWriter. This adapter
  * absorbs the layout: rows already at schema width pass through;
  * width+1 rows have their leading marker consumed — DELETE-marked rows
  * are dropped (MERGE delete actions), everything else writes through a
  * zero-copy shifted view. Any other width fails loud.
  */
private final class DwrfReplaceRowAdapter(inner: DataWriter[InternalRow],
    schemaWidth: Int) extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.util.RowDeltaUtils

  private val shifted = new ShiftedInternalRow(1)

  override def write(record: InternalRow): Unit = {
    if (record.numFields == schemaWidth) inner.write(record)
    else if (record.numFields == schemaWidth + 1) {
      if (record.getInt(0) != RowDeltaUtils.DELETE_OPERATION) {
        shifted.row = record
        inner.write(shifted)
      }
    } else throw new IllegalStateException(
      s"dwrf row-level write: row has ${record.numFields} fields, " +
        s"expected $schemaWidth or ${schemaWidth + 1} (marker)")
  }
  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}

/** Zero-copy view of an InternalRow with the first `offset` fields
  * hidden (the row-operation marker). Read-only: the writers only get.
  */
private final class ShiftedInternalRow(offset: Int) extends InternalRow {
  var row: InternalRow = _
  override def numFields: Int = row.numFields - offset
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException
  override def copy(): InternalRow = {
    val c = new ShiftedInternalRow(offset)
    c.row = row.copy()
    c
  }
  override def isNullAt(i: Int): Boolean = row.isNullAt(i + offset)
  override def getBoolean(i: Int): Boolean = row.getBoolean(i + offset)
  override def getByte(i: Int): Byte = row.getByte(i + offset)
  override def getShort(i: Int): Short = row.getShort(i + offset)
  override def getInt(i: Int): Int = row.getInt(i + offset)
  override def getLong(i: Int): Long = row.getLong(i + offset)
  override def getFloat(i: Int): Float = row.getFloat(i + offset)
  override def getDouble(i: Int): Double = row.getDouble(i + offset)
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    row.getDecimal(i + offset, precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    row.getUTF8String(i + offset)
  override def getBinary(i: Int): Array[Byte] = row.getBinary(i + offset)
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
    row.getInterval(i + offset)
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal =
    row.getVariant(i + offset)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    row.getStruct(i + offset, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    row.getArray(i + offset)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    row.getMap(i + offset)
  override def get(i: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef =
    row.get(i + offset, dataType).asInstanceOf[AnyRef]
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    row.getGeography(i + offset)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    row.getGeometry(i + offset)
}

/** The directory-level swap: manifest first, then renames, then
  * deletes, then manifest removal — every step idempotent so
  * [[DwrfCompact.recover]] can replay a readable manifest from any interruption
  * point (rename done = temp gone + target present; delete done = file
  * gone), and a TORN manifest (no terminator) rolls back instead.
  */
object DwrfReplaceCommit {
  private[dwrf] val ManifestPrefix = ".rlo-commit-"
  private val Terminator = "#end"

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n").replace("\r", "\\r")
  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  def run(root: Path, conf: Configuration,
      renames: Seq[(String, String)], deletes: Seq[String]): Unit = {
    val fs = root.getFileSystem(conf)
    val manifest = new Path(root,
      ManifestPrefix + java.util.UUID.randomUUID().toString.take(12))
    val body = (renames.map { case (a, b) => s"R\t${esc(a)}\t${esc(b)}" } ++
      deletes.map(d => s"D\t${esc(d)}") :+ Terminator).mkString("\n")
    val out = fs.create(manifest, false)
    out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    apply(manifest, fs)
  }

  /** Replays a manifest's renames + deletes (idempotent), then removes
    * it. Package-visible for recovery.
    */
  private[dwrf] def apply(manifest: Path, fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val in = fs.open(manifest)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = body.split('\n')
    require(lines.nonEmpty && lines.last == Terminator,
      s"torn row-level swap manifest $manifest")
    lines.init.foreach { line =>
      val parts = line.split('\t')
      parts(0) match {
        case "R" =>
          val (src, dst) = (new Path(unesc(parts(1))), new Path(unesc(parts(2))))
          if (fs.exists(src)) {
            if (!fs.rename(src, dst)) throw new java.io.IOException(
              s"row-level swap: could not promote $src -> $dst")
          } // else: already renamed by an earlier attempt
        case "D" =>
          val p = new Path(unesc(parts(1)))
          if (fs.exists(p)) fs.delete(p, false)
        case other =>
          throw new IllegalStateException(s"bad manifest line: $line")
      }
    }
    fs.delete(manifest, false)
  }

  /** Converges the interrupted swaps whose manifests are among `rootEntries`
    * (the table root's listing — manifests live only there): readable
    * manifests replay, torn ones roll back (their temps are swept as
    * orphans afterwards). Returns actions taken. Run by
    * [[DwrfCompact.recover]], which sweeps [[isOrphanTemp]]s after this.
    */
  private[dwrf] def replayManifests(rootEntries: Seq[org.apache.hadoop.fs.FileStatus],
      fs: org.apache.hadoop.fs.FileSystem): Int = {
    var fixed = 0
    rootEntries
      .filter(s => s.isFile && s.getPath.getName.startsWith(ManifestPrefix))
      .foreach { m =>
        val ok = try { apply(m.getPath, fs); true }
          catch { case scala.util.control.NonFatal(_) => false }
        // torn: roll back — originals untouched, drop the manifest
        if (!ok) fs.delete(m.getPath, false)
        fixed += 1
      }
    fixed
  }

  /** A row-level temp of an aborted or crashed job: no manifest was
    * ever written, or a torn one was rolled back. */
  private[dwrf] def isOrphanTemp(s: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && n.startsWith(".rlo-") && n.endsWith(".tmp")
  }
}
