package graft.sources.dwrf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.format.ColumnStats

/** Per-version file-statistics sidecars for the snapshot log: scan
  * planning over a snapshot table prunes files against pushed filters
  * BEFORE opening any footer.
  *
  * Without this, planning reads every live file's footer to learn its
  * min/max stats — one metadata round-trip per file per query, which at
  * 100 TB (10⁵–10⁶ files on an object store) dominates planning long
  * before the first task launches. Modern table formats solve it by
  * carrying file-level column stats in the commit metadata itself
  * (Iceberg manifests, Delta checkpoint stats); this is that move for
  * the dwrf log: a commit writes `v<version>.stats` next to its
  * manifest, mapping every live data file to the same file-level column
  * stats its footer holds. A scan loads ONE sidecar, prunes, and opens
  * footers only for surviving files; a DELETE classifies its candidates
  * from the same sidecar ([[DwrfDelete.classifyFiles]]).
  *
  * Which commits write one: every commit that changes the live file set
  * (init, append, overwrite, copy-on-write DELETE/UPDATE/MERGE,
  * compaction, restore). A commit that leaves the file set as it was —
  * a merge-on-read DELETE only rebinds delete vectors — writes none: its
  * manifest names the parent's sidecar (`stats`, see [[DwrfLog]]) and
  * [[DwrfLog.Snapshot.statsVersion]] resolves it, so a run of such
  * DELETEs shares one sidecar. Vacuum keeps every sidecar a retained
  * manifest names, also when the version that wrote it is dropped.
  *
  * The sidecar is ADVISORY-BUT-EXACT: it must agree with the footers it
  * summarizes (it is built from them at commit time), and a missing or
  * unreadable sidecar only costs footer reads — [[load]] returns None
  * and the scan falls back to the per-file footer pass. It is written
  * AFTER the manifest rename wins the version slot, so a sidecar can
  * never describe another writer's version; the crash window between
  * manifest and sidecar publication degrades to fallback, never to
  * wrong stats.
  *
  * Wire format (line-oriented, tab-separated, one line per (file,
  * column), `esc`-escaped fields so tabs/newlines in names survive):
  * {{{
  * graft-stats-v1
  * <rel-file> <TAB> <dotted-col> <TAB> count <TAB> hasNull <TAB>
  *   longMin <TAB> longMax <TAB> doubleMin <TAB> doubleMax <TAB>
  *   nanPoisoned <TAB> strMin? <TAB> strMax? <TAB> trueCount
  * }}}
  * Doubles round-trip exactly through `Double.toString`/`parseDouble`;
  * absent string bounds write the 1-char marker `0` (present = `1` +
  * escaped value). String bounds longer than [[MaxStringBound]] bytes
  * are dropped (marker `0`) to bound sidecar size — pruning then simply
  * can't use that window (conservative, never wrong). A file with no
  * stats lines is "unknown" and always survives pruning.
  */
object DwrfLogStats {

  /** File summaries: relative data-file path → dotted column path →
    * file-level stats (same shape the scan builds from footers). */
  type Summaries = Map[String, Map[String, ColumnStats]]

  private val Header = "graft-stats-v1"
  private[dwrf] val MaxStringBound = 256

  def sidecarName(v: Long): String = f"v$v%020d.stats"

  private def sidecarPath(root: Path, v: Long): Path =
    new Path(DwrfLog.logDir(root), sidecarName(v))

  private[dwrf] def versionOfSidecar(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".stats"))
      name.stripPrefix("v").stripSuffix(".stats").toLongOption
    else None

  // ------------------------------------------------------------- serde

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c => c.toString
  }

  private def unesc(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b.append('\t')
          case 'n' => b.append('\n')
          case 'r' => b.append('\r')
          case other => b.append(other)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def strField(s: String): String =
    if (s == null || s.getBytes("UTF-8").length > MaxStringBound) "0"
    else "1" + esc(s)

  private def parseStrField(f: String): String =
    if (f == "0") null else unesc(f.stripPrefix("1"))

  private[dwrf] def render(sums: Summaries): String = {
    val sb = new StringBuilder(Header).append('\n')
    sums.toSeq.sortBy(_._1).foreach { case (rel, cols) =>
      cols.toSeq.sortBy(_._1).foreach { case (col, st) =>
        sb.append(esc(rel)).append('\t').append(esc(col)).append('\t')
          .append(st.count).append('\t')
          .append(if (st.hasNull) 1 else 0).append('\t')
          .append(st.longMin).append('\t').append(st.longMax).append('\t')
          .append(java.lang.Double.toString(st.doubleMin)).append('\t')
          .append(java.lang.Double.toString(st.doubleMax)).append('\t')
          .append(if (java.lang.Double.isNaN(st.doubleSum)) 1 else 0).append('\t')
          .append(strField(st.stringMin)).append('\t')
          .append(strField(st.stringMax)).append('\t')
          .append(st.trueCount).append('\n')
      }
    }
    sb.toString
  }

  private[dwrf] def parse(body: String): Summaries = {
    val lines = body.split('\n')
    require(lines.nonEmpty && lines.head == Header,
      s"not a graft stats sidecar: ${lines.headOption.getOrElse("").take(40)}")
    val out = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, ColumnStats]]
    lines.iterator.drop(1).filter(_.nonEmpty).foreach { line =>
      val f = line.split('\t')
      require(f.length == 12, s"malformed stats line (${f.length} fields)")
      val st = ColumnStats(
        count = f(2).toLong,
        hasNull = f(3) == "1",
        longMin = f(4).toLong, longMax = f(5).toLong,
        doubleMin = java.lang.Double.parseDouble(f(6)),
        doubleMax = java.lang.Double.parseDouble(f(7)),
        doubleSum = if (f(8) == "1") Double.NaN else 0.0,
        stringMin = parseStrField(f(9)),
        stringMax = parseStrField(f(10)),
        trueCount = f(11).toLong)
      out.getOrElseUpdate(unesc(f(0)),
        scala.collection.mutable.Map.empty) += unesc(f(1)) -> st
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  // ------------------------------------------------------- footer pass

  /** Build summaries for `relFiles` by reading their footers (bounded
    * pool) — the same dotted-path stats map the scan's own footer pass
    * builds, so manifest pruning and footer pruning agree by
    * construction. Files that fail to read summarize as absent (they
    * survive pruning and fail later, loudly, in the scan proper).
    */
  def summarize(root: Path, conf: Configuration,
      relFiles: Seq[String]): Summaries = {
    val qualified = DwrfUtil.qualify(root, conf)
    DwrfUtil.parMap(relFiles) { rel =>
      try {
        val r = new DwrfFileReader(new Path(qualified, rel), conf)
        try {
          val stats = ColumnTree.pathIds(r.schema).flatMap {
            case (p, (id, _)) => r.footer.fileStats.get(id).map(p -> _)
          }
          Some(rel -> stats)
        } finally r.close()
      } catch { case _: Exception => None }
    }.flatten.toMap
  }

  /** Can the file summarized as `colStats` hold a row matching
    * `filters`? Its partition-path values join as min=max stats (row
    * count 1: only the window matters), taking precedence over a
    * same-named file column as in the footer pass. The scan's manifest
    * pruning and the DELETE classifier both refute files with this —
    * the same [[StatsFilter]] evaluation the footer pass runs, on the
    * same footer-derived stats, so it never refutes a file the footer
    * pass would keep.
    */
  def mayMatch(colStats: Map[String, ColumnStats], qualifiedRoot: Path,
      file: Path, tableSchema: StructType, filters: Seq[Filter]): Boolean = {
    val partStats = PartitionLayout.specOf(qualifiedRoot, file)
      .flatMap { case (k, raw) =>
        tableSchema.fields.find(_.name == k).flatMap(fd =>
          PartitionLayout.asStats(raw, fd.dataType, 1L).map(k -> _))
      }.toMap
    StatsFilter.mayMatch(filters, tableSchema,
      n => partStats.get(n).orElse(colStats.get(n)))
  }

  // -------------------------------------------------------------- i/o

  /** Publish the sidecar for `version` (temp + rename; best-effort — a
    * failure here only costs future footer reads, never correctness). */
  def write(root: Path, conf: Configuration, version: Long,
      sums: Summaries): Unit = {
    try {
      val target = sidecarPath(root, version)
      val fs = target.getFileSystem(conf)
      val tmp = new Path(DwrfLog.logDir(root),
        s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
      val out = fs.create(tmp, false)
      try out.write(render(sums).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, target)) fs.delete(tmp, false)
    } catch { case _: Exception => () }
  }

  /** Parsed-sidecar cache: planning re-reads the same (table, version)
    * sidecar on every query, and parse cost grows with file count — at
    * 256 files the re-parse made sidecar planning SLOWER than the
    * parallel footer fallback on a local FS (r10 measurement). Keyed by
    * (path, mtime, length); Summaries is immutable so sharing is safe.
    * Bounded LRU: a long-lived executor touching many tables stays
    * O(64) entries.
    *
    * mtime-granularity window, accepted and why it is safe: on a
    * coarse-mtime FS a same-length rewrite of the same version's
    * sidecar inside one granularity tick would serve the older parse.
    * But a version's sidecar content is a pure function of immutable
    * state — the committed manifest's file list and those data files'
    * footers — modulo entries OMITTED by a transient read failure
    * (`summarize` maps unreadable files to absent). So two rewrites can
    * differ only in which entries are present, and a stale hit can only
    * UNDER-prune (absent summaries make the scan fall back to footer
    * reads), never return wrong values. Vacuum deletes rather than
    * rewrites, which misses the cache outright. A content hash in the
    * key would close even the under-prune window but requires reading
    * the body — exactly the cost the cache exists to avoid.
    */
  private val loadCache =
    new java.util.LinkedHashMap[(String, Long, Long), Summaries](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Summaries]): Boolean =
        size() > 64
    }

  /** The summaries of `version`, or None when the sidecar is missing or
    * unreadable (scan falls back to its footer pass). */
  def load(root: Path, conf: Configuration, version: Long): Option[Summaries] =
    try {
      val p = sidecarPath(root, version)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p) // throws FileNotFoundException when absent
      val key = (p.toString, st.getModificationTime, st.getLen)
      loadCache.synchronized { Option(loadCache.get(key)) } match {
        case some @ Some(_) => some
        case None =>
          val in = fs.open(p)
          val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val sums = parse(body)
          loadCache.synchronized { loadCache.put(key, sums) }
          Some(sums)
      }
    } catch { case _: Exception => None }

  /** Sidecar upkeep for [[DwrfLog.vacuum]]: drop every sidecar no
    * retained manifest names (dropped versions' own, and orphans from
    * lost commit races); `named` = the retained versions' statsVersions. */
  def vacuumSidecars(root: Path, conf: Configuration,
      named: Set[Long]): Int = {
    val ld = DwrfLog.logDir(root)
    val fs = ld.getFileSystem(conf)
    if (!fs.exists(ld)) return 0
    var n = 0
    fs.listStatus(ld).foreach { s =>
      versionOfSidecar(s.getPath.getName).foreach { v =>
        if (!named.contains(v)) { fs.delete(s.getPath, false); n += 1 }
      }
    }
    n
  }

  /** Carry-forward helper for commits: parent summaries restricted to
    * surviving files, plus freshly footer-read summaries for `added`. */
  def advance(root: Path, conf: Configuration, parent: DwrfLog.Snapshot,
      nextFiles: Seq[String], addedRel: Seq[String]): Summaries = {
    val carried = load(root, conf, parent.statsVersion).getOrElse(Map.empty)
    val next = nextFiles.toSet
    val fresh = addedRel.filterNot(carried.contains)
    carried.filter { case (rel, _) => next.contains(rel) } ++
      summarize(root, conf, fresh.filter(next.contains))
  }
}
