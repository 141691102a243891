package graft.sources.dwrf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `DELETE FROM <dwrf table> WHERE ...` — stats-pruned copy-on-write.
  *
  * Three tiers per data file, decided from footer stats plus the
  * partition values its directory encodes (the same
  * min=max-pseudo-stats trick the scan pruner uses):
  *
  *  1. provably NO row matches ([[StatsFilter.mayMatch]] false) — the
  *     file is untouched; byte-identical, mtime-identical.
  *  2. provably EVERY row matches ([[StatsFilter.allMatch]]) — the file
  *     is deleted whole, no row decoded. This is the
  *     `DELETE WHERE dt = '2024-01-01'` partition-retention fast path a
  *     100 TB landing zone lives on.
  *  3. otherwise — the file is REWRITTEN without its matching rows, one
  *     Spark task per file (same distribution shape as [[DwrfCompact]]):
  *     survivors stream into `.delete-<id>.dwrf.inprogress` carrying a
  *     footer manifest naming the input, then input-delete + promote.
  *     A crash at any point converges on the next delete/compact
  *     ([[DwrfCompact.recover]] handles both protocols): torn temp →
  *     temp removed, input intact; complete temp → input removed, temp
  *     promoted. All-survive rewrites abort (input kept untouched);
  *     zero-survivor rewrites remove the input without promoting.
  *
  * Atomicity contract (same as compaction): each FILE converges
  * atomically; a crash mid-job leaves the delete applied to some files
  * and not others — re-running the same DELETE converges (matching
  * rows are gone from done files, still matched in the rest).
  *
  * Row-level evaluation is SQL three-valued: a predicate evaluating to
  * NULL keeps the row (DELETE removes only where the condition is
  * TRUE). A column the table gained after a file was written (schema
  * evolution) reads as all-NULL in that file: IS NULL matches, value
  * predicates don't — identical to what a scan of the evolved table
  * answers. [[supportedExact]] gates `canDeleteWhere`: anything this
  * evaluator cannot decide EXACTLY (unsupported node, non-atomic
  * column, NaN, inconvertible value) refuses up front and Spark reports
  * the delete unsupported instead of silently mis-applying it.
  */
object DwrfDelete {
  private[dwrf] val ManifestKey = "delete.inputs"

  final case class Result(filesKept: Int, filesDeleted: Int,
      filesRewritten: Int, rowsDeleted: Long)

  // ---------------------------------------------------------- gating

  /** Can [[deleteWhere]] apply this filter EXACTLY? (drives
    * `canDeleteWhere`; `schema` is the full table schema, partition
    * columns included.)
    */
  def supportedExact(f: Filter, schema: StructType): Boolean = f match {
    case And(l, r) => supportedExact(l, schema) && supportedExact(r, schema)
    case Or(l, r) => supportedExact(l, schema) && supportedExact(r, schema)
    case Not(g) => supportedExact(g, schema)
    case _: AlwaysTrue => true
    case _: AlwaysFalse => true
    case IsNull(a) => topLevelAtomic(a, schema)
    case IsNotNull(a) => topLevelAtomic(a, schema)
    case EqualTo(a, v) => convertible(a, v, schema)
    case EqualNullSafe(a, v) =>
      topLevelAtomic(a, schema) && (v == null || convertible(a, v, schema))
    case GreaterThan(a, v) => convertible(a, v, schema)
    case GreaterThanOrEqual(a, v) => convertible(a, v, schema)
    case LessThan(a, v) => convertible(a, v, schema)
    case LessThanOrEqual(a, v) => convertible(a, v, schema)
    case In(a, vs) =>
      topLevelAtomic(a, schema) && vs.forall(v =>
        v == null || convertible(a, v, schema))
    case _ => false
  }

  /** Top-level column of an atomic type the row evaluator understands.
    * Dotted struct paths are refused: row-level rewrite reads whole rows
    * and nested semantics (null structs) add cases the fast paths can't
    * check — conservative refusal keeps `canDeleteWhere` honest.
    */
  private def topLevelAtomic(attr: String, schema: StructType): Boolean =
    schema.fields.find(_.name == attr).exists { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BooleanType | TimestampType |
             DateType => true
        case d: DecimalType if d.precision <= 18 => true
        case _ => false
      }
    }

  private def convertible(attr: String, v: Any, schema: StructType): Boolean =
    v != null && topLevelAtomic(attr, schema) &&
      schema.fields.find(_.name == attr).exists { f =>
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            v.isInstanceOf[Number]
          case FloatType | DoubleType => v match {
            case n: Number => !n.doubleValue().isNaN // NaN ordering differs
            case _ => false
          }
          case StringType => v.isInstanceOf[String] || v.isInstanceOf[UTF8String]
          case BooleanType => v.isInstanceOf[Boolean]
          case _: DecimalType => toBigDecimal(v).isDefined
          case TimestampType => StatsFilter.toMicros(v).isDefined
          case DateType => StatsFilter.toDays(v).isDefined
          case _ => false
        }
      }

  private def toBigDecimal(v: Any): Option[java.math.BigDecimal] = v match {
    case b: java.math.BigDecimal => Some(b)
    case b: scala.math.BigDecimal => Some(b.underlying())
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case _ => None
  }

  // --------------------------------------------- row-level evaluation

  /** Per-file evaluation context: where each referenced column lives.
    * A partition column is a per-file CONSTANT from the directory path
    * (catalyst-internal value + declared table type); a data column is
    * an ordinal into the file's own schema; a column the file predates
    * is all-NULL.
    */
  private final case class FileCtx(
      fields: Map[String, (Int, DataType)],
      partConst: Map[String, Any],
      partTypes: Map[String, DataType]) {
    def typeOf(attr: String): Option[DataType] =
      fields.get(attr).map(_._2).orElse(partTypes.get(attr))
  }

  /** Three-valued evaluation (None = SQL NULL). */
  private def eval(f: Filter, row: InternalRow, ctx: FileCtx): Option[Boolean] = f match {
    case And(l, r) => (eval(l, row, ctx), eval(r, row, ctx)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval(l, row, ctx), eval(r, row, ctx)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(g) => eval(g, row, ctx).map(!_)
    case _: AlwaysTrue => Some(true)
    case _: AlwaysFalse => Some(false)
    case IsNull(a) => Some(cell(a, row, ctx).isEmpty)
    case IsNotNull(a) => Some(cell(a, row, ctx).nonEmpty)
    case EqualTo(a, v) => compare(a, v, row, ctx).map(_ == 0)
    case EqualNullSafe(a, v) =>
      val c = cell(a, row, ctx)
      if (v == null) Some(c.isEmpty)
      else if (c.isEmpty) Some(false)
      else compare(a, v, row, ctx).map(_ == 0)
    case GreaterThan(a, v) => compare(a, v, row, ctx).map(_ > 0)
    case GreaterThanOrEqual(a, v) => compare(a, v, row, ctx).map(_ >= 0)
    case LessThan(a, v) => compare(a, v, row, ctx).map(_ < 0)
    case LessThanOrEqual(a, v) => compare(a, v, row, ctx).map(_ <= 0)
    case In(a, vs) =>
      if (cell(a, row, ctx).isEmpty) None
      else if (vs.isEmpty) Some(false)
      else {
        // null IN-values contribute NULL (never TRUE): x IN (1, null)
        // is true iff x=1, else NULL
        val cmps = vs.toSeq.map { v =>
          if (v == null) None else compare(a, v, row, ctx).map(_ == 0)
        }
        if (cmps.contains(Some(true))) Some(true)
        else if (cmps.forall(_ == Some(false))) Some(false)
        else None
      }
    case other =>
      // unreachable behind supportedExact; fail loud, never mis-delete
      throw new IllegalStateException(s"DwrfDelete: unsupported filter $other")
  }

  /** Per-file TRUE-matcher over the conjunction of `filters` — the
    * shared row evaluator behind both DELETE tiers (copy-on-write
    * rewrite here, merge-on-read position collection in [[DwrfDv]]).
    * Returns true exactly when the condition evaluates TRUE (NULL keeps
    * the row, per DELETE semantics).
    */
  private[dwrf] def matcherFor(fileSchema: StructType, qualifiedRoot: Path,
      file: Path, tableSchema: StructType,
      filters: Array[Filter]): InternalRow => Boolean = {
    val spec = PartitionLayout.specOf(qualifiedRoot, file)
    def declaredType(k: String): DataType =
      tableSchema.fields.find(_.name == k).map(_.dataType)
        .getOrElse(StringType)
    val ctx = FileCtx(
      fileSchema.fields.zipWithIndex
        .map { case (f, i) => f.name -> (i, f.dataType) }.toMap,
      spec.map { case (k, raw) =>
        k -> PartitionLayout.catalystValue(raw, declaredType(k)) }.toMap,
      spec.map { case (k, _) => k -> declaredType(k) }.toMap)
    val cond = filters.reduceOption(And(_, _)).getOrElse(new AlwaysTrue())
    row => eval(cond, row, ctx).contains(true)
  }

  /** The row's value for `attr` — None when SQL NULL (null cell, or a
    * column this file predates).
    */
  private def cell(attr: String, row: InternalRow, ctx: FileCtx): Option[Any] =
    ctx.partConst.get(attr) match {
      case Some(null) => None
      case Some(v) => Some(v)
      case None => ctx.fields.get(attr) match {
        case None => None // schema-evolved column: all-NULL in this file
        case Some((i, _)) if row.isNullAt(i) => None
        case Some((i, dt)) => Some(row.get(i, dt))
      }
    }

  /** sign(cellValue - filterValue), None when NULL. Cell values are
    * CATALYST-internal (UTF8String, micros, days, Decimal), filter
    * values external (String, java.sql.Timestamp/Date, BigDecimal) —
    * each arm converts exactly; inconvertible values cannot reach here
    * (supportedExact gates them out).
    */
  private def compare(attr: String, v: Any, row: InternalRow,
      ctx: FileCtx): Option[Int] =
    cell(attr, row, ctx).map { c =>
      val dt = ctx.typeOf(attr)
        .getOrElse(throw new IllegalStateException(s"no type for $attr"))
      (dt, c) match {
        case (ByteType | ShortType | IntegerType | LongType, _) =>
          val cl = c match {
            case b: Byte => b.toLong
            case s: Short => s.toLong
            case i: Int => i.toLong
            case l: Long => l
            case n: Number => n.longValue()
          }
          java.lang.Long.compare(cl, v.asInstanceOf[Number].longValue())
        case (FloatType | DoubleType, _) =>
          val cd = c match {
            case fl: Float => fl.toDouble
            case d: Double => d
            case n: Number => n.doubleValue()
          }
          val vd = v.asInstanceOf[Number].doubleValue()
          // primitive ordering; NaN never reaches here (gated), and the
          // row side can't be NaN-compared wrongly: NaN cells make every
          // comparison false => sign computed via explicit branches
          if (cd < vd) -1 else if (cd > vd) 1
          else if (cd == vd) 0
          else 2 // NaN cell: unequal to everything, neither < nor >
        case (StringType, u) =>
          val cu = u match {
            case s: UTF8String => s
            case s: String => UTF8String.fromString(s)
          }
          val vu = v match {
            case s: UTF8String => s
            case other => UTF8String.fromString(other.toString)
          }
          Integer.signum(cu.compareTo(vu))
        case (BooleanType, b: Boolean) =>
          java.lang.Boolean.compare(b, v.asInstanceOf[Boolean])
        case (d: DecimalType, dec) =>
          val cb = dec match {
            case x: org.apache.spark.sql.types.Decimal => x.toJavaBigDecimal
            case x: java.math.BigDecimal => x
            case x: scala.math.BigDecimal => x.underlying()
          }
          Integer.signum(cb.compareTo(toBigDecimal(v).get))
        case (TimestampType, t) =>
          val cm = t match {
            case l: Long => l
            case ts: java.sql.Timestamp =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)
          }
          java.lang.Long.compare(cm, StatsFilter.toMicros(v).get)
        case (DateType, dv) =>
          val cd = dv match {
            case i: Int => i.toLong
            case dd: java.sql.Date =>
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(dd).toLong
          }
          java.lang.Long.compare(cd, StatsFilter.toDays(v).get)
        case (other, _) =>
          throw new IllegalStateException(s"DwrfDelete: uncomparable type $other")
      }
    }.flatMap {
      case 2 => None // NaN cell: comparison is SQL-false, not unknown —
      // but sign form can't express "false for every operator", so NaN
      // cells surface as NULL; both keep the row, identical outcome for
      // DELETE (condition not TRUE)
      case s => Some(s)
    }

  // ------------------------------------------------------------ drive

  /** Stats classification shared by both DELETE tiers: 0 = provably no
    * row matches (untouched), 1 = provably every row matches (drop the
    * file whole, no decode), 2 = maybe (row-level work). Decided from
    * footer stats plus the partition pseudo-stats the scan pruner uses.
    * Returns (file, tier, physicalNumRows).
    *
    * A snapshot table passes its version's stats sidecar (`sums`, keyed
    * by relative path): files it refutes are tier 0 without opening a
    * footer (numRows 0, never read), exactly as the scan's manifest
    * pruning skips them. Only the survivors open their footers, which
    * still decide tier 1 vs 2 and supply numRows. A file the sidecar does
    * not summarize — or no sidecar at all (missing, unreadable, a table
    * without a log) — goes through the footer pass.
    */
  private[dwrf] def classifyFiles(files: Seq[Path],
      conf: org.apache.hadoop.conf.Configuration, tableSchema: StructType,
      qualifiedRoot: Path, filters: Array[Filter],
      sums: Option[DwrfLogStats.Summaries]): Seq[(Path, Int, Long)] = {
    val (refuted, open) = files.partition { file =>
      sums.flatMap(_.get(DwrfLog.relativize(qualifiedRoot, conf, file)))
        .exists(!DwrfLogStats.mayMatch(_, qualifiedRoot, file, tableSchema,
          filters.toSeq))
    }
    refuted.map(f => (f, 0, 0L)) ++ DwrfUtil.parMap(open) { file =>
      val r = new DwrfFileReader(file, conf)
      try {
        val statsByName = ColumnTree.pathIds(r.schema).flatMap {
          case (path, (id, _)) => r.footer.fileStats.get(id).map(path -> _)
        }
        val spec = PartitionLayout.specOf(qualifiedRoot, file)
        val partStats = spec.flatMap { case (k, raw) =>
          tableSchema.fields.find(_.name == k).flatMap(f =>
            PartitionLayout.asStats(raw, f.dataType, r.footer.numRows).map(k -> _))
        }
        val stats = statsByName ++ partStats
        val statsOf = (a: String) => stats.get(a)
        val tier =
          if (!StatsFilter.mayMatch(filters.toSeq, tableSchema, statsOf)) 0
          else if (StatsFilter.allMatch(filters.toSeq, tableSchema, statsOf)) 1
          else 2
        (file, tier, r.footer.numRows)
      } finally r.close()
    }
  }

  /** Applies the delete under `root`. `tableSchema` is the full table
    * schema (partition columns included), `partTypes` their declared
    * types.
    */
  def deleteWhere(spark: SparkSession, root: String,
      tableSchema: StructType, filters: Array[Filter]): Result = {
    val conf = DwrfUtil.sessionHadoopConf()
    val rootPath = new Path(root)
    // same hazard as compaction: rewriting files under an active
    // streaming SOURCE landing dir re-ingests every rewritten file as a
    // new path through the durable source log (and in-flight batches
    // fail on vanished inputs) — refuse outright; stop the query and
    // discard its checkpoint first
    val markerFs = rootPath.getFileSystem(conf)
    val marker = new Path(rootPath, DwrfUtil.StreamMarkerName)
    if (markerFs.exists(marker)) throw new IllegalStateException(
      s"$root is (or was) a dwrf streaming source landing dir: DELETE " +
        "would re-ingest rewritten files as duplicates through the " +
        "source log. Stop the streaming query and remove the marker " +
        s"($marker) only if its checkpoint will be discarded.")
    DwrfCompact.recover(rootPath, conf)
    val qualifiedRoot = DwrfUtil.qualify(rootPath, conf)
    // snapshot tables: candidates are the LIVE manifest set; replaced
    // files stay on disk for time travel and leave through one atomic
    // commitReplace below, so concurrent readers never see a half-swap
    val snapshots = DwrfLog.isEnabled(rootPath, conf)
    val snap = if (snapshots) DwrfLog.latest(rootPath, conf) else None
    // the snapshot's delete-vector bindings: rewrites must MASK already-
    // deleted positions (or they would resurrect merge-on-read deletes),
    // and the replace commit must prove the bindings didn't change
    val snapDvs: Map[String, String] = snap.map(_.dvs).getOrElse(Map.empty)
    val files = snap.map(_.resolved(qualifiedRoot))
      .getOrElse(DwrfUtil.listDataFiles(rootPath, conf))
    val fs = rootPath.getFileSystem(conf)

    val classified = classifyFiles(files, conf, tableSchema, qualifiedRoot,
      filters, snap.flatMap(s => DwrfLogStats.load(rootPath, conf, s.statsVersion)))

    val kept = classified.count(_._2 == 0)
    var rowsDeleted = 0L
    val removed = scala.collection.mutable.ArrayBuffer.empty[Path]
    val added = scala.collection.mutable.ArrayBuffer.empty[Path]
    def dvRelOf(file: Path): Option[String] =
      snapDvs.get(DwrfLog.relativize(rootPath, conf, file))
    classified.filter(_._2 == 1).foreach { case (file, _, n) =>
      if (!snapshots) fs.delete(file, false)
      removed += file
      // rows already masked by the file's DV were deleted earlier, not now
      rowsDeleted += n - dvRelOf(file)
        .map(rel => DwrfDv.count(new Path(rootPath, rel), conf)).getOrElse(0L)
    }
    val deleted = classified.count(_._2 == 1)

    val rewrites = classified.filter(_._2 == 2).map(_._1.toString)
    var rewritten = 0
    val result = if (rewrites.nonEmpty) {
      val ser = new SerializableHadoopConf(conf)
      val schemaJson = tableSchema.json
      val rootStr = qualifiedRoot.toString
      val dvOf = rewrites.map(f =>
        f -> dvRelOf(new Path(f)).map(new Path(rootPath, _).toString)).toMap
      val results = spark.sparkContext
        .parallelize(rewrites, rewrites.length)
        .map { f =>
          rewriteFile(new Path(f), new Path(rootStr),
            DataType.fromJson(schemaJson).asInstanceOf[StructType],
            filters, ser.value, snapshots, dvOf(f))
        }
        .collect()
      rowsDeleted += results.map(_._1).sum
      rewritten = results.count(_._2)
      results.zip(rewrites).foreach { case (r, in) =>
        if (r._4) removed += new Path(in)
        r._3.foreach(n => added += new Path(n))
      }
      // a rewrite that found nothing kept its input; one that kept
      // nothing deleted it outright — neither is a promoted rewrite
      Result(
        kept + results.count(r => !r._2 && r._1 == 0),
        deleted + results.count(r => !r._2 && r._1 > 0),
        rewritten, rowsDeleted)
    } else Result(kept, deleted, rewritten, rowsDeleted)

    if (snapshots && (removed.nonEmpty || added.nonEmpty))
      DwrfLog.commitReplace(rootPath, conf, removed.toSeq, added.toSeq,
        "delete", observedDvs = snapDvs)
    result
  }

  /** One file's copy-on-write pass; returns (rowsDeleted, didRewrite,
    * promotedReplacement, inputLeavesLiveSet). In snapshot mode the
    * input is never physically deleted (it backs time travel) and the
    * temp carries NO delete-protocol footer manifest — a crash must
    * leave an inert orphan for [[DwrfCompact.recover]] to sweep, never
    * an authoritative instruction to delete a manifest-referenced input.
    */
  private def rewriteFile(file: Path, qualifiedRoot: Path,
      tableSchema: StructType, filters: Array[Filter],
      conf: org.apache.hadoop.conf.Configuration,
      snapshots: Boolean = false,
      dvPath: Option[String] = None): (Long, Boolean, Option[String], Boolean) = {
    val fs = file.getFileSystem(conf)
    val id = java.util.UUID.randomUUID().toString.take(12)
    val temp = new Path(file.getParent, s".delete-$id.dwrf.inprogress")
    val r = new DwrfFileReader(file, conf)
    val (survivors, total) = try {
      val fileSchema = r.schema
      val matches = matcherFor(fileSchema, qualifiedRoot, file, tableSchema,
        filters)
      // rows the file's delete vector already masked: skipped entirely —
      // neither copied to the rewrite nor counted as deleted now
      val masked: Array[Long] = dvPath match {
        case Some(p) => DwrfDv.read(new Path(p), conf)._1
        case None => Array.emptyLongArray
      }
      val opts = DwrfWriteOptions(
        kind = r.postScript.compression,
        blockSize = r.postScript.blockSize,
        rowIndexStride = r.footer.rowIndexStride,
        useVInts = r.postScript.useVInts)
      val out = fs.create(temp, false)
      var keptRows = 0L
      var totalRows = 0L
      // declared outside the try so the error path can release its
      // governor registration (a leaked Reg permanently shrinks every
      // later writer's budget in this executor)
      var w: DwrfFileWriter = null
      try {
        w = new DwrfFileWriter(fileSchema, opts, out)
        var pos = 0L
        var dvIdx = 0
        r.rows(r.footer.stripes, fileSchema).foreach { row =>
          val dvDeleted = dvIdx < masked.length && masked(dvIdx) == pos
          if (dvDeleted) dvIdx += 1
          else {
            totalRows += 1
            // DELETE removes rows where the condition is TRUE; NULL keeps
            if (!matches(row)) {
              w.addRow(row.copy())
              keptRows += 1
            }
          }
          pos += 1
        }
        // the manifest-carrying close happens ONLY on a fully-iterated
        // file: a temp with a readable manifest is authoritative to
        // recovery, so a partial one must never gain a footer (and a
        // snapshot-mode temp never carries one at all — scaladoc above)
        w.close(if (snapshots) Map.empty else Map(ManifestKey ->
          file.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        out.close()
      } catch {
        case t: Throwable =>
          if (w != null) w.release() // registration must not outlive the op
          try out.close() catch { case _: Throwable => () }
          try fs.delete(temp, false) catch { case _: Throwable => () }
          throw t
      }
      (keptRows, totalRows)
    } finally r.close()

    if (survivors == total) { // nothing matched: keep the input untouched
      fs.delete(temp, false)
      (0L, false, None, false)
    } else if (survivors == 0L) { // everything matched: no replacement file
      fs.delete(temp, false)
      if (!snapshots) fs.delete(file, false)
      (total, false, None, true)
    } else {
      // same converge-forward order as compaction: a complete temp's
      // manifest is authoritative, so recovery after any crash below
      // finishes exactly these two steps. Snapshot mode promotes only —
      // the input's removal is the driver's manifest commit.
      if (!snapshots) fs.delete(file, false)
      val visible = new Path(file.getParent,
        temp.getName.stripPrefix(".").stripSuffix(".inprogress"))
      if (!fs.rename(temp, visible)) throw new java.io.IOException(
        s"delete rewrite: could not promote $temp -> $visible")
      (total - survivors, true, Some(visible.toString), true)
    }
  }
}
