package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** `DELETE FROM <dwrf table>` end to end through SQL, plus the tiered
  * machinery underneath: the stats fast paths must not touch what they
  * keep (byte-identical files), the whole-file path must never decode,
  * the rewrite path must keep exactly the non-matching rows, and an
  * interrupted rewrite must converge through `DwrfCompact.recover`.
  */
class DwrfDeleteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def mkdir(): String = Files.createTempDirectory(
    java.nio.file.Paths.get("/root/repo/target"), "dwrf-delete-").toString

  private def conf = DwrfUtil.sessionHadoopConf()

  private def dataFiles(dir: String): Seq[(String, Long, Long)] = {
    val fs = new Path(dir).getFileSystem(conf)
    DwrfUtil.listDataFileStatuses(new Path(dir), conf)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
  }

  test("partition fast path deletes whole directories without touching the rest") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "keep", 10.0), (2L, "keep", 20.0), (3L, "drop", 30.0),
      (4L, "drop", 40.0), (5L, "other", 50.0))
      .toDF("id", "tag", "v").repartition($"tag")
      .write.format("dwrf").mode("overwrite").partitionBy("tag").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_part")
    s.sql(s"CREATE TABLE dwrf_del_part USING dwrf LOCATION '$dir'")
    val before = dataFiles(dir)
    s.sql("DELETE FROM dwrf_del_part WHERE tag = 'drop'")
    val after = dataFiles(dir)
    // the kept partitions' files are the SAME files (same length+mtime:
    // provably-no-match tier never rewrites)
    assert(after.toSet == before.filterNot(_._1.contains("tag=drop")).toSet,
      s"before=$before after=$after")
    assert(s.sql("SELECT id FROM dwrf_del_part ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 5L))
    s.sql("DROP TABLE dwrf_del_part")
  }

  test("row-level rewrite keeps exactly the non-matching rows; clean files untouched") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // two files: ids 0-9 (mixed: some match) and 100-109 (none match)
    Seq.tabulate(10)(i => (i.toLong, s"r$i")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq.tabulate(10)(i => (100L + i, s"r${100 + i}")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_rows")
    s.sql(s"CREATE TABLE dwrf_del_rows USING dwrf LOCATION '$dir'")
    val before = dataFiles(dir)
    // (a modulo condition canDeleteWhere refuses now routes through the
    // copy-on-write row-level path instead — DwrfRowLevelSpec covers it;
    // this test pins the cheaper SupportsDelete tiers)
    s.sql("DELETE FROM dwrf_del_rows WHERE id IN (0, 2, 4, 6, 8) AND id < 50")
    assert(s.sql("SELECT id FROM dwrf_del_rows WHERE id < 50 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L, 5L, 7L, 9L))
    // the all-clean file (100-109) is byte-identical, not rewritten
    val after = dataFiles(dir)
    assert(s.sql("SELECT COUNT(*) FROM dwrf_del_rows").head().getLong(0) == 15)
    assert(after.exists(f => before.contains(f)),
      s"expected the no-match file untouched: before=$before after=$after")
    // the rewritten file carries the delete- prefix
    assert(after.exists(_._1.contains("/delete-")),
      s"expected a promoted rewrite file: $after")
    s.sql("DROP TABLE dwrf_del_rows")
  }

  test("null semantics: NULL predicate keeps the row; IS NULL deletes it") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "c"))
      .toDF("id", "tag").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_null")
    s.sql(s"CREATE TABLE dwrf_del_null USING dwrf LOCATION '$dir'")
    // id > 0 is NULL for the null row -> kept
    s.sql("DELETE FROM dwrf_del_null WHERE id > 2")
    assert(s.sql("SELECT tag FROM dwrf_del_null ORDER BY tag")
      .as[String].collect().toSeq == Seq("a", "b"))
    s.sql("DELETE FROM dwrf_del_null WHERE id IS NULL")
    assert(s.sql("SELECT tag FROM dwrf_del_null ORDER BY tag")
      .as[String].collect().toSeq == Seq("a"))
    s.sql("DROP TABLE dwrf_del_null")
  }

  test("NOT predicates never whole-file-delete null rows (three-valued NOT)") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // one file where NO row matches id = 5 but a NULL row exists:
    // NOT(id = 5) is TRUE for id=7, NULL for the null row — the null
    // row must survive, so the whole-file fast path must NOT fire
    Seq[java.lang.Long](7L, null).toDF("id")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_not")
    s.sql(s"CREATE TABLE dwrf_del_not USING dwrf LOCATION '$dir'")
    s.sql("DELETE FROM dwrf_del_not WHERE NOT (id = 5)")
    val left = s.sql("SELECT id FROM dwrf_del_not").collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)))
    assert(left.toSeq == Seq(null), s"null row must survive NOT: ${left.toSeq}")
    // and on a null-free file the fast path still proves: both rows
    // vanish without a rewrite (file deleted whole)
    val dir2 = mkdir()
    Seq(7L, 9L).toDF("id")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir2)
    s.sql("DROP TABLE IF EXISTS dwrf_del_not2")
    s.sql(s"CREATE TABLE dwrf_del_not2 USING dwrf LOCATION '$dir2'")
    s.sql("DELETE FROM dwrf_del_not2 WHERE NOT (id = 5)")
    assert(dataFiles(dir2).isEmpty, s"null-free file should drop whole: ${dataFiles(dir2)}")
    s.sql("DROP TABLE dwrf_del_not")
    s.sql("DROP TABLE dwrf_del_not2")
  }

  test("zero-survivor rewrite removes the file; whole-table delete empties") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    // stats window [2,4] with both rows matching IN (2,4): allMatch
    // can't prove it (min != max), so this exercises the rewrite path
    // converging to file removal
    Seq(2L, 4L).toDF("id").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq(7L, 9L).toDF("id").coalesce(1).write.format("dwrf")
      .mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_zero")
    s.sql(s"CREATE TABLE dwrf_del_zero USING dwrf LOCATION '$dir'")
    s.sql("DELETE FROM dwrf_del_zero WHERE id IN (2, 4)")
    assert(dataFiles(dir).size == 1, s"expected one file left: ${dataFiles(dir)}")
    assert(s.sql("SELECT id FROM dwrf_del_zero ORDER BY id")
      .as[Long].collect().toSeq == Seq(7L, 9L))
    s.sql("DROP TABLE dwrf_del_zero")
  }

  test("schema evolution: value predicates keep old files untouched; IS NULL reaches them") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq((1L, "old1"), (2L, "old2")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    Seq((3L, "new1", 30.0), (4L, "new2", 0.5)).toDF("id", "tag", "score")
      .coalesce(1).write.format("dwrf").mode("append").save(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_del_evo")
    s.sql(s"CREATE TABLE dwrf_del_evo USING dwrf LOCATION '$dir'")
    val before = dataFiles(dir)
    // score reads NULL in the old file: the predicate is never TRUE
    // there and the file must come through BYTE-identical
    s.sql("DELETE FROM dwrf_del_evo WHERE score > 1.0")
    assert(dataFiles(dir).exists(f =>
      before.contains(f) && f._1 == before.minBy(_._3)._1) ||
      dataFiles(dir).toSet.intersect(before.toSet).nonEmpty)
    assert(s.sql("SELECT id FROM dwrf_del_evo ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 4L))
    // IS NULL deletes every old-generation row
    s.sql("DELETE FROM dwrf_del_evo WHERE score IS NULL")
    assert(s.sql("SELECT id FROM dwrf_del_evo ORDER BY id")
      .as[Long].collect().toSeq == Seq(4L))
    s.sql("DROP TABLE dwrf_del_evo")
  }

  test("DELETE refuses an active streaming landing dir") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.format("dwrf").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(conf)
    val marker = new Path(new Path(dir), DwrfUtil.StreamMarkerName)
    fs.create(marker, true).close()
    s.sql("DROP TABLE IF EXISTS dwrf_del_stream")
    s.sql(s"CREATE TABLE dwrf_del_stream USING dwrf LOCATION '$dir'")
    val e = intercept[Exception] {
      s.sql("DELETE FROM dwrf_del_stream WHERE id = 1")
    }
    assert(e.getMessage.contains("landing dir") ||
      Option(e.getCause).exists(_.getMessage.contains("landing dir")),
      s"unexpected error: $e")
    assert(s.sql("SELECT COUNT(*) FROM dwrf_del_stream").head().getLong(0) == 2)
    s.sql("DROP TABLE dwrf_del_stream")
  }

  test("interrupted rewrite converges: complete temp promotes, torn temp rolls back") {
    val s = spark
    import s.implicits._
    val dir = mkdir()
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    val fs = new Path(dir).getFileSystem(conf)
    val input = DwrfUtil.listDataFiles(new Path(dir), conf).head

    // a COMPLETE temp (manifest footer) simulating a crash after close
    // but before input-delete/promote: recovery must delete the input
    // and promote the temp
    val temp = new Path(input.getParent, ".delete-recov1.dwrf.inprogress")
    val out = fs.create(temp, false)
    val w = new DwrfFileWriter(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))),
      DwrfWriteOptions(), out)
    w.addRow(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](2L)))
    w.close(Map(DwrfDelete.ManifestKey ->
      input.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    out.close()
    assert(DwrfCompact.recover(new Path(dir), conf) == 1)
    assert(!fs.exists(input), "recovery must finish the input delete")
    val promoted = DwrfUtil.listDataFiles(new Path(dir), conf)
    assert(promoted.map(_.getName) == Seq("delete-recov1.dwrf"))
    assert(s.read.format("dwrf").load(dir).as[Long].collect().toSeq == Seq(2L))

    // a TORN temp (no readable footer): recovery removes it, data intact
    val torn = new Path(promoted.head.getParent, ".delete-torn.dwrf.inprogress")
    val o2 = fs.create(torn, false)
    o2.write("GRFTgarbage".getBytes)
    o2.close()
    DwrfCompact.recover(new Path(dir), conf)
    assert(!fs.exists(torn))
    assert(s.read.format("dwrf").load(dir).as[Long].collect().toSeq == Seq(2L))
  }

  // ------------------------------------ classification from the sidecar

  test("seeded DELETEs leave exactly what a DataFrame filter predicts, any sidecar state") {
    // snapshot tables with the sidecar present, deleted and corrupted, and
    // a table without a log (no sidecar: footers alone)
    Seq("present", "deleted", "corrupted", "no log").zipWithIndex.foreach {
      case (mode, i) =>
        DeleteParity.check(spark, mkdir(), mode, seed = 40 + i) { (dir, schema, filters) =>
          DwrfDelete.deleteWhere(spark, dir, schema, filters).rowsDeleted
        }
    }
  }

  test("classification opens footers only for files the sidecar cannot refute") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    val dir = mkdir()
    DeleteParity.write(spark, dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val snap = DwrfLog.latest(root, conf).get
    val q = DwrfUtil.qualify(root, conf)
    val schema = spark.read.format("dwrf").load(dir).schema
    val sums = DwrfLogStats.load(root, conf, snap.statsVersion)
    assert(sums.exists(_.size == 6))
    // files(k) holds ids [100k, 100k + 100)
    val (rels, files) = snap.files.zip(snap.resolved(q))
      .sortBy { case (rel, _) => sums.get(rel)("id").longMin }.unzip

    val recording = new org.apache.hadoop.conf.Configuration(conf)
    recording.set("fs.file.impl", classOf[OpenRecorderFs].getName)
    recording.setBoolean("fs.file.impl.disable.cache", true)
    def classify(filters: Array[org.apache.spark.sql.sources.Filter],
        sc: Option[DwrfLogStats.Summaries]) = {
      OpenRecorderFs.opened.clear()
      val c = DwrfDelete.classifyFiles(files, recording, schema, q, filters, sc)
      val opened = OpenRecorderFs.opened.toArray.toSeq
        .map(p => p.asInstanceOf[Path].getName).filter(_.endsWith(".dwrf"))
      (c.map { case (f, tier, _) => f.getName -> tier }.toMap, opened)
    }
    // a point delete opens one footer
    val point = Array[org.apache.spark.sql.sources.Filter](EqualTo("id", 250L))
    val (tiers, opened) = classify(point, sums)
    assert(opened === Seq(files(2).getName), s"opened $opened")
    assert(tiers === files.map(_.getName).zipWithIndex
      .map { case (n, k) => n -> (if (k == 2) 2 else 0) }.toMap)
    // the survivors' footers still tell a whole-file drop from a row pass
    val range = Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("id", 100L), LessThan("id", 250L))
    val (rt, ro) = classify(range, sums)
    assert(ro.sorted === Seq(files(1), files(2)).map(_.getName).sorted)
    assert(rt(files(1).getName) === 1 && rt(files(2).getName) === 2)
    assert(rt.values.count(_ == 0) === 4)
    // without a sidecar every footer opens, with the same verdicts
    val (ft, fo) = classify(point, None)
    assert(fo.sorted === files.map(_.getName).sorted && ft === tiers)
    // a file the sidecar does not summarize goes through its footer
    val (pt, po) = classify(point, sums.map(_ - rels.head))
    assert(po.sorted === Seq(files.head, files(2)).map(_.getName).sorted)
    assert(pt === tiers)
  }
}

/** Seeded DELETE parity over both DELETE tiers: each random condition
  * must leave exactly the rows a DataFrame filter keeps (`NOT
  * coalesce(cond, false)`: a NULL condition keeps the row).
  */
object DeleteParity {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types.StructType

  /** 6 files; file k holds ids [100k, 100k + 100), some keys NULL. */
  def write(spark: SparkSession, dir: String): Unit =
    spark.range(0, 600, 1, 6)
      .select(col("id"),
        when(col("id") % 7 === 0, lit(null))
          .otherwise(concat(lit("k-"), format_string("%03d", col("id") % 50))).as("key"),
        (col("id") * 0.5).as("v"), (col("id") % 5).cast("int").as("grp"))
      .sortWithinPartitions("id")
      .write.format("dwrf").mode("overwrite").save(dir)

  /** A narrow random condition: conjunction filters + its SQL text. */
  private def condition(r: scala.util.Random): (Array[Filter], String) = {
    val k = r.nextInt(640).toLong
    val w = 1 + r.nextInt(40)
    val window: Array[Filter] = Array(GreaterThanOrEqual("id", k), LessThan("id", k + w))
    val windowSql = s"id >= $k AND id < ${k + w}"
    r.nextInt(6) match {
      case 0 => (Array(EqualTo("id", k)), s"id = $k")
      case 1 => (window, windowSql)
      case 2 =>
        val a = r.nextInt(5)
        (window :+ In("grp", Array[Any](a, (a + 2) % 5)),
          s"$windowSql AND grp IN ($a, ${(a + 2) % 5})")
      case 3 => (window :+ IsNull("key"), s"$windowSql AND key IS NULL")
      case 4 =>
        val d = k * 0.5 + 7.25
        (window :+ Or(LessThanOrEqual("v", d), EqualTo("key", "k-007")),
          s"$windowSql AND (v <= $d OR key = 'k-007')")
      case _ =>
        val k2 = r.nextInt(640).toLong
        (Array(Or(EqualTo("id", k), EqualTo("id", k2))), s"id = $k OR id = $k2")
    }
  }

  /** Runs 6 seeded DELETEs through `delete` (returns rows deleted) on a
    * fresh table in `dir`. `sidecar`: "present", "deleted" or
    * "corrupted" (done to the current version's sidecar before each
    * DELETE), or "no log" (a plain directory).
    */
  def check(spark: SparkSession, dir: String, sidecar: String, seed: Int)(
      delete: (String, StructType, Array[Filter]) => Long): Unit = {
    write(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val conf = new org.apache.hadoop.conf.Configuration()
    if (sidecar != "no log") DwrfLog.enable(root, conf)
    val fs = root.getFileSystem(conf)
    val schema = spark.read.format("dwrf").load(dir).schema
    val r = new scala.util.Random(seed)
    (1 to 6).foreach { _ =>
      val (filters, sql) = condition(r)
      DwrfLog.latest(root, conf).foreach { snap =>
        val sc = new org.apache.hadoop.fs.Path(DwrfLog.logDir(root),
          DwrfLogStats.sidecarName(snap.statsVersion))
        sidecar match {
          case "deleted" => fs.delete(sc, false)
          case "corrupted" =>
            val out = fs.create(sc, true)
            out.write("graft-stats-v1\nnot\ta stats line".getBytes("UTF-8"))
            out.close()
          case _ => assert(fs.exists(sc), s"v${snap.version} names a missing sidecar")
        }
      }
      val before = spark.read.format("dwrf").load(dir).collect()
      val want = spark.read.format("dwrf").load(dir)
        .where(s"NOT coalesce(($sql), false)").collect().map(_.toString).sorted.toSeq
      val deleted = delete(dir, schema, filters)
      val got = spark.read.format("dwrf").load(dir).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"[$sidecar] DELETE WHERE $sql")
      assert(deleted == before.length - want.length, s"[$sidecar] rows deleted by $sql")
    }
  }
}

/** Local filesystem that records every file it opens. */
class OpenRecorderFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    OpenRecorderFs.opened.add(f)
    super.open(f, bufferSize)
  }
}

object OpenRecorderFs {
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
}
