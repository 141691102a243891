package graft.sources.dwrf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.format._

/** File introspection CLI — the reference's FileDump (S11,
  * FileDump.java:114-141): prints rows, compression, schema, per-stripe
  * geometry, stream directory, encodings and column statistics. Doubles
  * as the golden-structural-test surface (SURVEY §5.3).
  *
  * Usage: runMain graft.sources.dwrf.DwrfDump <file-or-dir> [...]
  */
object DwrfDump {
  def main(args: Array[String]): Unit = {
    val conf = new Configuration()
    args.flatMap(a => DwrfUtil.listDataFiles(new Path(a), conf))
      .foreach(p => print(dump(p, conf)))
  }

  def dump(path: Path, conf: Configuration): String = {
    val sb = new StringBuilder
    val r = new DwrfFileReader(path, conf)
    try {
      val f = r.footer
      sb.append(s"Structure for $path\n")
      sb.append(s"Rows: ${f.numRows}\n")
      sb.append(s"Compression: ${r.postScript.compression.name}\n")
      if (r.postScript.compression != CompressionKind.None)
        sb.append(s"Compression size: ${r.postScript.blockSize}\n")
      sb.append(s"Row index stride: ${f.rowIndexStride}\n")
      sb.append(s"Raw data size: ${f.rawDataSize}\n")
      if (f.userMetadata.nonEmpty)
        sb.append(s"User metadata: ${f.userMetadata.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k(${v.length}B)" }.mkString(", ")}\n")
      sb.append(s"Type: ${r.schema.simpleString}\n")
      sb.append("\nStatistics:\n")
      f.fileStats.toSeq.sortBy(_._1).foreach { case (col, st) =>
        sb.append(s"  Column $col: ${renderStats(st)}\n")
      }
      sb.append("\nStripes:\n")
      f.stripes.zipWithIndex.foreach { case (si, i) =>
        sb.append(s"  Stripe $i: offset: ${si.offset} index: ${si.indexLength} " +
          s"data: ${si.dataLength} footer: ${si.footerLength} rows: ${si.numRows}\n")
        val sf = r.readStripeFooter(si)
        sf.streams.foreach { s =>
          sb.append(f"    Stream: column ${s.column}%d kind ${kindName(s.kind)}%-24s length ${s.length}%d\n")
        }
        sf.encodings.toSeq.sortBy(_._1).foreach { case (col, e) =>
          val enc = if (e.dictionary) s"DICTIONARY[${e.dictionarySize}]" else "DIRECT"
          sb.append(s"    Encoding column $col: $enc\n")
        }
        // stride-bloom summary (bloom.stride): additive — absent on
        // files written without bloom.columns, so golden dumps hold
        val bloomCols = sf.streams.collect {
          case s if s.kind == StreamKind.BloomFilter => s.column
        }
        if (bloomCols.nonEmpty) {
          val blooms = r.readStrideBlooms(si, sf, bloomCols.toSet)
          blooms.toSeq.sortBy(_._1).foreach { case (col, bs) =>
            val present = bs.count(_.isDefined)
            val bits = bs.flatten.map(_.words.length.toLong * 64)
            val avg = if (bits.isEmpty) 0L else bits.sum / bits.length
            sb.append(s"    Stride blooms column $col: ${bs.length} strides, " +
              s"$present filters, avg $avg bits\n")
          }
        }
      }
      sb.toString
    } finally r.close()
  }

  private def kindName(k: Int): String = k match {
    case StreamKind.Present => "PRESENT"
    case StreamKind.Data => "DATA"
    case StreamKind.Length => "LENGTH"
    case StreamKind.DictionaryData => "DICTIONARY_DATA"
    case StreamKind.NanoData => "NANO_DATA"
    case StreamKind.InDictionary => "IN_DICTIONARY"
    case StreamKind.StrideDictionary => "STRIDE_DICTIONARY"
    case StreamKind.StrideDictionaryLength => "STRIDE_DICTIONARY_LENGTH"
    case StreamKind.RowIndex => "ROW_INDEX"
    case StreamKind.BloomFilter => "BLOOM_FILTER"
    case other => s"UNKNOWN($other)"
  }

  private def renderStats(st: ColumnStats): String = {
    val parts = scala.collection.mutable.ArrayBuffer(s"count: ${st.count}")
    if (st.hasNull) parts += "hasNull: true"
    if (st.longMin <= st.longMax)
      parts += s"min: ${st.longMin} max: ${st.longMax} sum: ${st.longSum}"
    if (st.doubleMin <= st.doubleMax)
      parts += s"min: ${st.doubleMin} max: ${st.doubleMax} sum: ${st.doubleSum}"
    if (st.stringMin != null)
      parts += s"min: ${st.stringMin} max: ${st.stringMax}"
    if (st.totalLength > 0) parts += s"totalLength: ${st.totalLength}"
    if (st.trueCount > 0) parts += s"trueCount: ${st.trueCount}"
    parts.mkString(", ")
  }
}

/** Raw-stripe concatenation — the reference's fast file merge (S3/S4,
  * StripeReader.java:32-92 + WriterImpl.addStripe:2183-2196): stripes are
  * copied as opaque byte ranges (no decode), the new footer's stripe
  * directory is rebuilt with fixed-up offsets, and file stats merge.
  * Inputs must share schema, compression kind and block size.
  *
  * Usage: runMain graft.sources.dwrf.DwrfConcat <out.dwrf> <in...>
  */
object DwrfConcat {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DwrfConcat <out> <in...>")
    val conf = new Configuration()
    val inputs = args.tail.flatMap(a => DwrfUtil.listDataFiles(new Path(a), conf))
    concat(new Path(args.head), inputs.toIndexedSeq, conf)
    println(s"wrote ${args.head} from ${inputs.length} inputs")
  }

  def concat(out: Path, inputs: Seq[Path], conf: Configuration,
      userMetadata: Map[String, Array[Byte]] = Map.empty): Unit = {
    require(inputs.nonEmpty, "no inputs")
    val readers = inputs.map(p => new DwrfFileReader(p, conf))
    try {
      val first = readers.head
      readers.tail.foreach { r =>
        require(r.footer.schemaJson == first.footer.schemaJson,
          s"schema mismatch: ${inputs.head} vs ${inputs(readers.indexOf(r))}")
        require(r.postScript.compression == first.postScript.compression &&
          r.postScript.blockSize == first.postScript.blockSize,
          "compression mismatch between inputs")
        require(r.postScript.useVInts == first.postScript.useVInts,
          "vints mode mismatch between inputs")
        // stride dictionaries and seeks are stride-relative: stripes
        // written under a different stride would decode wrong
        require(r.footer.rowIndexStride == first.footer.rowIndexStride,
          "row index stride mismatch between inputs")
      }
      val fs = out.getFileSystem(conf)
      val os = fs.create(out, true)
      var written = 0L
      def write(b: Array[Byte], len: Int): Unit = { os.write(b, 0, len); written += len }
      write(Magic.Bytes, Magic.Bytes.length)

      val newStripes = scala.collection.mutable.ArrayBuffer.empty[StripeInformation]
      var mergedStats = Map.empty[Int, ColumnStats]
      var numRows = 0L
      var rawSize = 0L
      val buf = new Array[Byte](1 << 20)
      readers.foreach { r =>
        val in = r.openRaw()
        r.footer.stripes.foreach { si =>
          val newOffset = written
          var remaining = si.indexLength + si.dataLength + si.footerLength
          var pos = si.offset
          while (remaining > 0) {
            val n = math.min(remaining, buf.length.toLong).toInt
            in.readFully(pos, buf, 0, n)
            write(buf, n)
            pos += n
            remaining -= n
          }
          newStripes += si.copy(offset = newOffset)
        }
        numRows += r.footer.numRows
        rawSize += r.footer.rawDataSize
        mergedStats =
          (mergedStats.keySet ++ r.footer.fileStats.keySet).map { k =>
            (mergedStats.get(k), r.footer.fileStats.get(k)) match {
              case (Some(a), Some(b)) => k -> a.merge(b)
              case (Some(a), None) => k -> a
              case (None, Some(b)) => k -> b
              case _ => k -> ColumnStats(0, hasNull = false)
            }
          }.toMap
      }

      val footer = Footer(first.footer.schemaJson, newStripes.toSeq, mergedStats,
        numRows, first.footer.rowIndexStride, rawSize, userMetadata)
      val codecKind = first.postScript.compression
      val fOut = new OutStream("footer", first.postScript.blockSize,
        CompressionCodec.forKind(codecKind, first.postScript.writerZlibLevel))
      MetaIO.writeFooter(fOut, footer)
      val fBytes = fOut.finish()
      write(fBytes, fBytes.length)
      val bos = new java.io.ByteArrayOutputStream()
      val psBytes = MetaIO.writePostScript(bos, PostScript(fBytes.length.toLong,
        codecKind, first.postScript.blockSize, Magic.Version,
        first.postScript.writerZlibLevel, first.postScript.useVInts))
      write(psBytes, psBytes.length)
      os.write(psBytes.length)
      os.close()
    } finally readers.foreach(_.close())
  }
}

/** Small-file compaction — the maintenance operation a streaming landing
  * dir or over-parallel batch write needs at scale (10k tasks writing
  * hourly = millions of files whose listing/footer overhead swamps the
  * scan). Built on raw stripe concat (S3/S4): groups are merged
  * byte-wise with NO decode, so compaction cost is pure sequential I/O
  * regardless of schema width or encoding.
  *
  * Distribution: groups are planned driver-side from one listing, then
  * executed one-group-per-task via the SparkContext — at 100 TB the
  * rewrite bandwidth is the cluster's aggregate sequential I/O, not a
  * driver loop. Files ≥ the target size are left untouched; groups
  * never cross partition directories (different partition values must
  * stay in different files).
  *
  * Crash safety without a transaction log: each group writes its merged
  * output as an invisible `.compact-<id>.dwrf.inprogress` temp whose
  * footer user-metadata records the input file names, then deletes the
  * inputs, then renames the temp visible. [[DwrfCompact.recover]] (run
  * automatically at the start of every [[DwrfCompact.compact]]) makes
  * any crash point converge: an unreadable temp aborted before its
  * deletes started and is dropped; a readable temp proves all merged
  * data durable, so its listed inputs are removed and the temp promoted
  * — every row exactly once either way. Readers racing a compaction see
  * either the inputs or the output (never both visible), but a batch
  * query that listed files BEFORE the swap can fail on the vanished
  * input, the same caveat as Hive/Iceberg compaction without snapshot
  * isolation; run it as a maintenance pass, not against live scans.
  * Streaming sources are WORSE than a transient failure: compacting an
  * active [[DwrfMicroBatchStream]] landing dir re-ingests everything —
  * merged `compact-*.dwrf` outputs are new paths the durable source log
  * registers, duplicating every already-committed row (and in-flight
  * batches fail on the vanished inputs). [[compact]] therefore REFUSES
  * when the landing-dir marker ([[DwrfUtil.StreamMarkerName]], written
  * by the stream source at start) is present, unless `force = true` —
  * force only when the query is provably stopped and its checkpoint
  * will be discarded.
  *
  * Merged files keep merged min/max/sum stats (aggregate and stride
  * pruning survive) but DROP per-file Bloom filters — bloom union needs
  * equal sizing and rebuilding needs a decode, so the merge stays
  * byte-wise and the absent bloom just means no planning-time equality
  * pruning for that file until a decoded rewrite re-adds it.
  */
object DwrfCompact {
  private val ManifestKey = "compact.inputs"

  /** CLI: runMain graft.sources.dwrf.DwrfCompact <dir> [targetMB=128] —
    * driver-side convenience over the same group plan (one local Spark
    * session; the library entry point [[compact]] distributes groups
    * across the caller's cluster).
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DwrfCompact <dir> [targetMB]")
    val target = (if (args.length > 1) args(1).toLong else 128L) * 1024 * 1024
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("dwrf-compact")
      .config("spark.ui.enabled", "false").getOrCreate()
    try println(compact(spark, args(0), target))
    finally spark.stop()
  }

  /** `version` = the snapshot version the table is at after this call
    * (the compaction's own commit, or the unchanged latest when nothing
    * compacted); -1 for plain directories without a log.
    */
  final case class Result(groups: Int, filesBefore: Int, filesAfter: Int,
      filesCompacted: Int, version: Long = -1L)

  /** Greedy arrival-order bin packing per partition directory AND
    * per byte-compatibility class (schema, codec, block size, vints,
    * stride — exactly the preconditions [[DwrfConcat.concat]] requires),
    * so a directory whose write options changed over time compacts each
    * generation separately instead of failing the merge. Arrival order
    * keeps time-locality (neighboring files hold neighboring data under
    * the epoch-tagged sink naming), which preserves stride/footer stat
    * selectivity in the merged files. Plan cost: one footer read per
    * small file, on the bounded pool.
    */
  private[dwrf] def plan(dir: Path, conf: Configuration, targetBytes: Long,
      live: Option[Set[String]] = None): Seq[Seq[Path]] = {
    val all = DwrfUtil.listDataFileStatuses(dir, conf)
      // snapshot tables: only live files compact — retained historic
      // files in the same directory are not candidates
      .filter(s => live.forall(_.contains(s.getPath.toString)))
      .filter(_.getLen < targetBytes)
    val compat: Map[String, String] = DwrfUtil.parMap(all.map(_.getPath)) { p =>
      val r = new DwrfFileReader(p, conf)
      try p.toString -> Seq(r.footer.schemaJson, r.postScript.compression.name,
        r.postScript.blockSize, r.postScript.useVInts,
        r.footer.rowIndexStride).mkString("|")
      finally r.close()
    }.toMap
    all
      .groupBy(s => (s.getPath.getParent.toString, compat(s.getPath.toString)))
      .toSeq.sortBy(_._1)
      .flatMap { case (_, statuses) =>
        val small = statuses
          .sortBy(s => (s.getModificationTime, s.getPath.getName))
        val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[Path]]
        var cur = Vector.empty[Path]
        var curBytes = 0L
        small.foreach { s =>
          if (cur.nonEmpty && curBytes + s.getLen > targetBytes) {
            groups += cur; cur = Vector.empty; curBytes = 0L
          }
          cur :+= s.getPath; curBytes += s.getLen
        }
        if (cur.nonEmpty) groups += cur
        groups.filter(_.size >= 2).toSeq
      }
  }

  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long, force: Boolean = false): Result = {
    val conf = DwrfUtil.sessionHadoopConf()
    val root = new Path(dir)
    if (!force) {
      val fs = root.getFileSystem(conf)
      val marker = new Path(root, DwrfUtil.StreamMarkerName)
      if (fs.exists(marker)) {
        val ckpt = try {
          val in = fs.open(marker)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => "<unreadable>" }
        throw new IllegalStateException(
          s"$dir is (or was) a dwrf streaming source landing dir " +
            s"(checkpoint: $ckpt): compaction would re-ingest every " +
            "committed row as new files. Stop the query and pass " +
            "force=true only if its checkpoint will be discarded.")
      }
    }
    recover(root, conf)
    // snapshot tables compact the LIVE manifest set and swap through one
    // atomic commitReplace — merged inputs stay on disk for time travel
    // and concurrent readers keep their pinned snapshot throughout
    val snapshots = DwrfLog.isEnabled(root, conf)
    // delete-vector'd files are NOT candidates: compaction merges raw
    // stripe bytes without decoding, which would resurrect their
    // logically deleted rows — OPTIMIZE (a decoding rewrite) purges DVs
    // and re-admits the files here. The commit below proves no DV was
    // bound concurrently (inputs observed with no binding).
    val snap = if (snapshots) DwrfLog.latest(root, conf) else None
    val live: Option[Set[String]] = snap.map { s =>
      val q = DwrfUtil.qualify(root, conf)
      s.files.filterNot(s.dvs.contains)
        .map(rel => new Path(q, rel).toString).toSet
    }
    val before = live.map(_.size)
      .getOrElse(DwrfUtil.listDataFiles(root, conf).length)
    val groups = plan(root, conf, targetBytes, live)
    var merged = Seq.empty[String]
    if (groups.nonEmpty) {
      val ser = new SerializableHadoopConf(conf)
      val groupStrs = groups.map(_.map(_.toString))
      merged = spark.sparkContext
        .parallelize(groupStrs, groupStrs.length)
        .map { g => compactGroup(g.map(new Path(_)), ser.value, snapshots) }
        .collect().toSeq
    }
    if (snapshots) {
      val committedV =
        if (groups.nonEmpty)
          DwrfLog.commitReplace(root, conf, groups.flatten.toSeq,
            merged.map(new Path(_)), "compact").version
        else DwrfLog.latestVersion(root, conf).getOrElse(-1L)
      val after = before - groups.map(_.size).sum + groups.length
      Result(groups.length, before, after, groups.map(_.size).sum, committedV)
    } else {
      val afterList = DwrfUtil.listDataFileStatuses(root, conf)
      Result(groups.length, before, afterList.length, groups.map(_.size).sum)
    }
  }

  /** One group: merge → temp with manifest → delete inputs → promote.
    * Snapshot mode promotes WITHOUT the footer manifest or the input
    * deletes (a crashed temp must stay inert — the inputs are
    * manifest-referenced); the driver's commitReplace is the swap.
    * Returns the merged file's path.
    */
  private def compactGroup(inputs: Seq[Path], conf: Configuration,
      snapshots: Boolean = false): String = {
    val parent = inputs.head.getParent
    val id = java.util.UUID.randomUUID().toString.take(12)
    val visible = new Path(parent, s"compact-$id.dwrf")
    val temp = new Path(parent, s".compact-$id.dwrf.inprogress")
    val meta: Map[String, Array[Byte]] =
      if (snapshots) Map.empty
      else Map(ManifestKey -> inputs.map(_.getName).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    DwrfConcat.concat(temp, inputs, conf, meta)
    val fs = parent.getFileSystem(conf)
    if (!snapshots) inputs.foreach(p => fs.delete(p, false))
    if (!fs.rename(temp, visible)) throw new java.io.IOException(
      s"compaction: could not promote $temp -> $visible")
    visible.toString
  }

  /** Converges any interrupted compaction OR delete rewrite (both use
    * the same temp-with-manifest swap protocol; see object scaladoc and
    * [[DwrfDelete]]): torn temp → removed, inputs intact; complete
    * temp → inputs removed, temp promoted. Temps are written beside
    * their inputs, so only the root and partition dirs are walked — never
    * the snapshot log or delete-vector dirs, whose size grows with
    * history while every DELETE starts here.
    */
  def recover(root: Path, conf: Configuration): Int = {
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0
    // row-level (UPDATE/MERGE/complex-DELETE) swap manifests + orphan
    // temps converge on the same maintenance pass
    var fixed = DwrfReplaceCommit.recover(root, conf)
    def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
      val n = s.getPath.getName
      if (DwrfUtil.isPartitionDir(s)) walk(s.getPath)
      else if (s.isFile && (n.startsWith(".compact-") ||
          n.startsWith(".delete-")) && n.endsWith(".dwrf.inprogress")) {
        val key =
          if (n.startsWith(".compact-")) ManifestKey
          else DwrfDelete.ManifestKey
        val parent = s.getPath.getParent
        val readable =
          try {
            val r = new DwrfFileReader(s.getPath, conf)
            try Some(r.footer.userMetadata.get(key).map(b =>
              new String(b, java.nio.charset.StandardCharsets.UTF_8)))
            finally r.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        readable.flatten match {
          case None =>
            // torn write: deletes never started, inputs intact
            fs.delete(s.getPath, false)
          case Some(m) =>
            m.split('\n').filter(_.nonEmpty).foreach { name =>
              val in = new Path(parent, name)
              if (fs.exists(in)) fs.delete(in, false)
            }
            val visible = new Path(parent,
              n.stripPrefix(".").stripSuffix(".inprogress"))
            if (!fs.rename(s.getPath, visible)) throw new java.io.IOException(
              s"compaction recovery: could not promote ${s.getPath}")
            fixed += 1
        }
      }
    }
    walk(root)
    fixed
  }
}
