package graft.sources.dwrf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.format.DeleteVector

/** Merge-on-read DELETE: positional delete-vector sidecars instead of
  * copy-on-write file rewrites.
  *
  * Copy-on-write ([[DwrfDelete]]) pays a full decode + re-encode of
  * every file the condition MIGHT touch — the right trade when deletes
  * are rare or bulk (partition retention). The wrong one at 100 TB for
  * GDPR-style point deletes: removing one user's 50 rows from 10k
  * files rewrites 10 TB. This tier writes a [[DeleteVector]] sidecar
  * per touched file (bytes ∝ rows DELETED, not rows STORED) and rebinds
  * it in ONE atomic snapshot-log commit; scans mask the positions at
  * read time. Requires the snapshot log — without a manifest to bind
  * file → DV atomically, a directory reader could see the sidecar and
  * the file out of sync.
  *
  * What stays shared with copy-on-write: the stats classification
  * (provably-untouched files never open; provably-all-matching files
  * leave the live set whole, no sidecar, no decode) and the exact
  * three-valued row evaluator ([[DwrfDelete.matcherFor]] — NULL keeps).
  *
  * The read-time cost — and the way back out of it: a DV'd file scans
  * on the masked row path (no vectorized batches, no stride skipping),
  * so accumulated DVs tax every query. [[DwrfOptimize]] or any
  * copy-on-write rewrite purges them (rewrites apply the mask and drop
  * the binding), restoring the columnar path — the standard
  * merge-on-read maintenance loop.
  *
  * Reference baseline: hive-dwrf is append-only (OrcOutputFormat.java
  * has no edit path at all); both DELETE tiers are beyond-reference.
  */
object DwrfDv {
  /** Sidecar directory under the table root — underscore-prefixed, so
    * every data-file listing (and the scan of a NON-log reader) is
    * blind to it.
    */
  val DvDirName = "_graft_dv"

  /** Table properties selecting the tier per statement kind. DELETEs
    * with translatable conditions route through [[deleteWhere]]; the
    * rest (UPDATE / MERGE / complex DELETE) pick group-based
    * copy-on-write ([[DwrfRowLevelOperation]]) or the position-delta
    * tier ([[DwrfDeltaOperation]]) here.
    */
  val DeleteModeKey = "delete.mode"
  val UpdateModeKey = "update.mode"
  val MergeModeKey = "merge.mode"
  val ModeCopyOnWrite = "copy-on-write"
  val ModeMergeOnRead = "merge-on-read"

  final case class MorResult(filesUntouched: Int, filesDropped: Int,
      dvsWritten: Int, rowsDeleted: Long)

  // ---------------------------------------------------------------- io

  /** Write `positions` as a fresh sidecar under `root`'s DV dir; returns
    * the (unreferenced until committed) sidecar path. Crash orphans are
    * invisible to every reader and reclaimed by [[DwrfLog.vacuum]].
    */
  def write(root: Path, conf: Configuration, positions: Array[Long],
      targetNumRows: Long): Path = {
    val dir = new Path(root, DvDirName)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val p = new Path(dir,
      s"${java.util.UUID.randomUUID().toString.take(16)}.dv")
    val out = fs.create(p, false)
    try out.write(DeleteVector.serialize(positions, targetNumRows))
    finally out.close()
    p
  }

  /** (positions, targetNumRows). */
  def read(path: Path, conf: Configuration): (Array[Long], Long) = {
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    require(len <= Int.MaxValue, s"delete vector $path too large ($len B)")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(path)
    try in.readFully(0, buf) finally in.close()
    DeleteVector.deserialize(buf)
  }

  /** Deleted-position count without materializing positions. */
  def count(path: Path, conf: Configuration): Long = {
    val fs = path.getFileSystem(conf)
    // header is magic + two varints — 24 bytes covers any value
    val buf = new Array[Byte](math.min(24L, fs.getFileStatus(path).getLen).toInt)
    val in = fs.open(path)
    try in.readFully(0, buf) finally in.close()
    DeleteVector.header(buf)._1
  }

  // ------------------------------------------------------------- drive

  /** Applies the DELETE as delete-vector rebindings + whole-file drops,
    * committed atomically. Same `canDeleteWhere` gating as
    * copy-on-write — callers route only filters
    * [[DwrfDelete.supportedExact]] accepted.
    */
  def deleteWhere(spark: SparkSession, root: String,
      tableSchema: StructType, filters: Array[Filter]): MorResult = {
    val conf = DwrfUtil.sessionHadoopConf()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(conf)
    val marker = new Path(rootPath, DwrfUtil.StreamMarkerName)
    if (fs.exists(marker)) throw new IllegalStateException(
      s"$root is (or was) a dwrf streaming source landing dir: DELETE " +
        "is owned by the source's log there. Stop the streaming query " +
        s"and remove the marker ($marker) only if its checkpoint will " +
        "be discarded.")
    if (!DwrfLog.isEnabled(rootPath, conf)) throw new IllegalStateException(
      s"dwrf: merge-on-read DELETE needs the snapshot log (a manifest " +
        s"must bind file -> delete vector atomically). DwrfLog.enable($root) " +
        s"first, or use $DeleteModeKey=$ModeCopyOnWrite.")
    DwrfCompact.recover(rootPath, conf)
    val qualifiedRoot = DwrfUtil.qualify(rootPath, conf)
    val snap = DwrfLog.latest(rootPath, conf).get
    val files = snap.resolved(qualifiedRoot)
    val relOf = files.map(f => f.toString ->
      DwrfLog.relativize(rootPath, conf, f)).toMap

    val classified = DwrfDelete.classifyFiles(files, conf, tableSchema,
      qualifiedRoot, filters)
    val untouched = classified.count(_._2 == 0)

    var rowsDeleted = 0L
    val removed = scala.collection.mutable.ArrayBuffer.empty[Path]
    // tier 1: every physical row matches — the file leaves the live set
    // whole; rows its old DV already masked were deleted earlier
    classified.filter(_._2 == 1).foreach { case (file, _, n) =>
      removed += file
      rowsDeleted += n - snap.dvs.get(relOf(file.toString))
        .map(rel => count(new Path(rootPath, rel), conf)).getOrElse(0L)
    }

    // tier 2: collect matching positions per file on executors, union
    // with the existing DV, write a fresh sidecar (or drop the file when
    // nothing survives)
    val work = classified.filter(_._2 == 2).map { case (file, _, _) =>
      (file.toString,
        snap.dvs.get(relOf(file.toString))
          .map(rel => new Path(rootPath, rel).toString))
    }
    var dvUpdates = Map.empty[String, String]
    var dvsWritten = 0
    if (work.nonEmpty) {
      val ser = new SerializableHadoopConf(conf)
      val schemaJson = tableSchema.json
      val rootStr = qualifiedRoot.toString
      val results = spark.sparkContext
        .parallelize(work, work.length)
        .map { case (fileStr, oldDv) =>
          collectAndWrite(fileStr, oldDv, rootStr, schemaJson, filters,
            ser.value)
        }
        .collect()
      results.zip(work).foreach { case ((newlyDeleted, dvPathOpt, allGone), (fileStr, _)) =>
        rowsDeleted += newlyDeleted
        if (allGone) removed += new Path(fileStr)
        else dvPathOpt.foreach { dv =>
          dvUpdates += relOf(fileStr) ->
            DwrfLog.relativize(rootPath, conf, new Path(dv))
          dvsWritten += 1
        }
      }
    }

    if (removed.nonEmpty || dvUpdates.nonEmpty)
      DwrfLog.commitReplace(rootPath, conf, removed.toSeq, Nil, "delete-mor",
        observedDvs = snap.dvs, dvUpdates = dvUpdates)
    // tier-2 files where no live row matched end up untouched too
    val tier2FullyDeleted = removed.length - classified.count(_._2 == 1)
    val tier2Untouched =
      classified.count(_._2 == 2) - dvsWritten - tier2FullyDeleted
    MorResult(untouched + tier2Untouched, removed.length, dvsWritten,
      rowsDeleted)
  }

  /** One file's position-collection pass (executor side). Returns
    * (newlyDeletedRows, sidecarPath, fileFullyDeleted). Writes nothing
    * when no live row matches.
    */
  private def collectAndWrite(fileStr: String, oldDvStr: Option[String],
      rootStr: String, schemaJson: String, filters: Array[Filter],
      conf: Configuration): (Long, Option[String], Boolean) = {
    val file = new Path(fileStr)
    val qualifiedRoot = new Path(rootStr)
    val tableSchema = org.apache.spark.sql.types.DataType
      .fromJson(schemaJson).asInstanceOf[StructType]
    val old: Array[Long] = oldDvStr match {
      case Some(p) => read(new Path(p), conf)._1
      case None => Array.emptyLongArray
    }
    val r = new DwrfFileReader(file, conf)
    val (fresh, numRows) = try {
      // decode only the top-level columns the condition references (the
      // file yields one row per physical row whatever the projection, so
      // positions stay exact); a referenced column the file lacks is
      // absent here too and evaluates as NULL
      val referenced = filters.flatMap(_.references).toSet
      val readSchema = StructType(r.schema.fields.filter(f =>
        referenced.contains(f.name)))
      val matches = DwrfDelete.matcherFor(readSchema, qualifiedRoot, file,
        tableSchema, filters)
      val acc = new graft.format.LongBuffer()
      var pos = 0L
      var oldIdx = 0
      r.rows(r.footer.stripes, readSchema).foreach { row =>
        val alreadyGone = oldIdx < old.length && old(oldIdx) == pos
        if (alreadyGone) oldIdx += 1
        else if (matches(row)) acc.add(pos)
        pos += 1
      }
      (acc.toSortedDistinct, r.footer.numRows)
    } finally r.close()
    if (fresh.isEmpty) (0L, None, false)
    else {
      val unioned = DeleteVector.union(old, fresh)
      if (unioned.length.toLong == numRows) (fresh.length.toLong, None, true)
      else {
        val dv = write(qualifiedRoot, conf, unioned, numRows)
        (fresh.length.toLong, Some(dv.toString), false)
      }
    }
  }
}
