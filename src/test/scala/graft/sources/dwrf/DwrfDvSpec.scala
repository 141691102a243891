package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
import org.scalatest.funsuite.AnyFunSuite

import graft.format.DeleteVector

/** Merge-on-read DELETE: delete-vector serde, the MoR tier end to end,
  * interactions with copy-on-write / OPTIMIZE / compaction / vacuum /
  * aggregate pushdown, and the concurrent-rebinding conflict rule.
  */
class DwrfDvSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "dwrf-dv-").toString

  private def writeRange(dir: String, lo: Int, hi: Int,
      mode: String = "overwrite", parts: Int = 2): Unit = {
    val s = spark
    import s.implicits._
    (lo until hi).map(i => (i.toLong, s"name-$i", i % 5))
      .toDF("id", "name", "grp")
      .repartition(parts)
      .write.format("dwrf").mode(mode).save(dir)
  }

  private def ids(dir: String, version: Option[Long] = None): Seq[Long] = {
    val r = spark.read.format("dwrf")
    version.foreach(v => r.option("versionAsOf", v))
    r.load(dir).select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  private def schemaOf(dir: String) =
    spark.read.format("dwrf").load(dir).schema

  private def fileStamps(dir: String): Map[String, (Long, Long)] =
    DwrfUtil.listDataFileStatuses(new Path(dir), conf)
      .map(s => s.getPath.toString -> (s.getLen, s.getModificationTime)).toMap

  // ------------------------------------------------------------- serde

  test("delete vector serde: round trip, header, union, invariants") {
    val pos = Array(0L, 1L, 7L, 8L, 9L, 1000L, 999999L)
    val bytes = DeleteVector.serialize(pos, 1000000L)
    assert(DeleteVector.deserialize(bytes)._1.toSeq === pos.toSeq)
    assert(DeleteVector.deserialize(bytes)._2 === 1000000L)
    assert(DeleteVector.header(bytes) === ((7L, 1000000L)))
    // empty DV round-trips (legal, if pointless)
    assert(DeleteVector.deserialize(
      DeleteVector.serialize(Array.emptyLongArray, 5L))._1.isEmpty)
    // unsorted / out-of-range refuse to serialize
    intercept[IllegalArgumentException](
      DeleteVector.serialize(Array(3L, 2L), 10L))
    intercept[IllegalArgumentException](
      DeleteVector.serialize(Array(10L), 10L))
    // union: overlap collapses, order holds
    assert(DeleteVector.union(Array(1L, 5L, 9L), Array(0L, 5L, 10L)).toSeq
      === Seq(0L, 1L, 5L, 9L, 10L))
    assert(DeleteVector.union(Array.emptyLongArray, Array(2L)).toSeq === Seq(2L))
    // fuzz: random sets round-trip and union agrees with Set semantics
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(5000)
      val a = rnd.shuffle((0L until 100000L).toVector).take(n).sorted.toArray
      val b = rnd.shuffle((0L until 100000L).toVector).take(n).sorted.toArray
      assert(DeleteVector.deserialize(
        DeleteVector.serialize(a, 100000L))._1.toSeq === a.toSeq)
      assert(DeleteVector.union(a, b).toSeq === (a.toSet ++ b.toSet).toSeq.sorted)
    }
  }

  test("corrupt delete vectors fail loud, never over-allocate or fabricate") {
    val pos = (0L until 4000L by 3L).toArray
    val good = DeleteVector.serialize(pos, 5000L)
    // the untrusted-count bound: a count varint claiming 2^30 entries in
    // a tiny sidecar must be refused BEFORE the positions array is sized
    // (count can never exceed the byte budget — one varint byte each)
    val bigCount = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GDV1".getBytes("UTF-8"))
      // vulong(2^30): 5 bytes
      var v = 1L << 30
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
      out.write(0x10) // numRows
      out.toByteArray
    }
    val e = intercept[IllegalArgumentException](DeleteVector.deserialize(bigCount))
    assert(e.getMessage.contains("bad DV count"))
    // zero gap = non-strictly-increasing positions: loud, not silent dups
    val zeroGap = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GDV1".getBytes("UTF-8"))
      out.write(3) // count
      out.write(50) // numRows
      out.write(7) // first
      out.write(0) // gap 0 — corrupt
      out.write(1)
      out.toByteArray
    }
    intercept[java.io.EOFException](DeleteVector.deserialize(zeroGap))
    // negative gap (10-byte varint with bit 63 set): would smuggle an
    // OUT-OF-ORDER position past an ==0 check while prev stays in range
    val negGap = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("GDV1".getBytes("UTF-8"))
      out.write(2) // count
      out.write(50) // numRows
      out.write(40) // first position
      var v = -5L // gap -5 -> position 35 < 40, still in [0, 50)
      var n = 0
      while (n < 9) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7; n += 1 }
      out.write(v.toInt)
      out.toByteArray
    }
    intercept[java.io.EOFException](DeleteVector.deserialize(negGap))
    // fuzz: single byte flips and truncations terminate with either an
    // exception or a result that honors the invariants — sorted strictly
    // ascending, in [0, numRows) — and never an outsized allocation
    val rnd = new scala.util.Random(7)
    var outcomes = 0
    (1 to 300).foreach { _ =>
      val b = good.clone()
      val i = rnd.nextInt(b.length)
      b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
      try {
        val (p, n) = DeleteVector.deserialize(b)
        assert(p.length <= b.length, "positions exceed the byte budget")
        var j = 1
        while (j < p.length) { assert(p(j) > p(j - 1) && p(j) < n); j += 1 }
        if (p.nonEmpty) assert(p(0) >= 0 && p(0) < n)
        outcomes += 1
      } catch { case _: Exception => () } // loud is fine; silent lies are not
    }
    (1 to 50).foreach { _ =>
      val cut = rnd.nextInt(good.length)
      try { DeleteVector.deserialize(good.take(cut)); () }
      catch { case _: Exception => () }
    }
  }

  // ------------------------------------------------- merge-on-read tier

  test("MoR delete: rows masked, data files byte-identical, time travel intact") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 4)
    DwrfLog.enable(new Path(dir), conf)
    val before = fileStamps(dir)

    val res = DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("id", 7L)))
    assert(res.rowsDeleted === 1L && res.dvsWritten === 1 &&
      res.filesDropped === 0)

    assert(ids(dir) === (0L until 100L).filterNot(_ == 7L))
    assert(ids(dir, Some(0L)) === (0L until 100L)) // pre-delete snapshot
    // THE merge-on-read property: no data file was rewritten
    assert(fileStamps(dir) === before)
    // and the manifest binds exactly one sidecar
    val snap = DwrfLog.latest(new Path(dir), conf).get
    assert(snap.dvs.size === 1 && snap.op === "delete-mor")
    val dvAbs = new Path(dir, snap.dvs.values.head)
    assert(dvAbs.getFileSystem(conf).exists(dvAbs))
    assert(DwrfDv.count(dvAbs, conf) === 1L)
  }

  test("second MoR delete unions into a fresh sidecar; old one vacuums") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 1)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(LessThan("id", 10L)))
    val dv1 = DwrfLog.latest(new Path(dir), conf).get.dvs.values.head
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(EqualTo("id", 50L)))
    val snap = DwrfLog.latest(new Path(dir), conf).get
    val dv2 = snap.dvs.values.head
    assert(dv1 !== dv2)
    assert(DwrfDv.count(new Path(dir, dv2), conf) === 11L) // union
    assert(ids(dir) === (10L until 100L).filterNot(_ == 50L))
    // idempotent-shaped re-delete: nothing new matches, no commit
    val v = snap.version
    val res = DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("id", 50L)))
    assert(res.rowsDeleted === 0L && res.dvsWritten === 0)
    assert(DwrfLog.latestVersion(new Path(dir), conf) === Some(v))
    // history drop reclaims the superseded sidecar
    val vac = DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    assert(vac.dataFilesDeleted >= 1)
    val fs = new Path(dir).getFileSystem(conf)
    assert(!fs.exists(new Path(dir, dv1)) && fs.exists(new Path(dir, dv2)))
    assert(ids(dir) === (10L until 100L).filterNot(_ == 50L))
  }

  test("MoR delete matching a whole file drops it from the live set") {
    val dir = tmpDir()
    // two files with disjoint ranges via partition dirs
    val s = spark
    import s.implicits._
    (0 until 100).map(i => (i.toLong, i / 50)).toDF("id", "half")
      .repartition(1)
      .write.format("dwrf").mode("overwrite").partitionBy("half").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    val res = DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("half", 1)))
    // stats prove every row of half=1 matches: whole-file drop, no sidecar
    assert(res.filesDropped === 1 && res.dvsWritten === 0 &&
      res.rowsDeleted === 50L)
    assert(DwrfLog.latest(new Path(dir), conf).get.dvs.isEmpty)
    assert(ids(dir) === (0L until 50L))
  }

  test("MoR delete that empties a file's live rows drops the file, not a DV") {
    val dir = tmpDir()
    writeRange(dir, 0, 40, parts = 1)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(LessThan("id", 39L)))
    assert(ids(dir) === Seq(39L))
    // the remainder: file fully dead -> leaves live set entirely
    val res = DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("id", 39L)))
    assert(res.filesDropped === 1 && res.dvsWritten === 0)
    val snap = DwrfLog.latest(new Path(dir), conf).get
    assert(snap.files.isEmpty && snap.dvs.isEmpty)
  }

  test("MoR point delete beside nested and array columns reads only the key") {
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    // the key is the LAST file column: the projected row's ordinals must
    // not be the file's
    (0 until 100).map(i => (Seq(i, i + 1), (i.toLong * 10, s"s-$i"), i.toLong))
      .toDF("tags", "st", "id")
      .repartition(2)
      .write.format("dwrf").mode("overwrite").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    val res = DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("id", 7L)))
    assert(res.rowsDeleted === 1L && res.dvsWritten === 1)
    assert(ids(dir) === (0L until 100L).filterNot(_ == 7L))
    val rows = spark.read.format("dwrf").load(dir)
      .select("id", "tags", "st._1", "st._2").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(rows === (0 until 100).filterNot(_ == 7).map(i =>
      (i.toLong, Seq(i, i + 1), i.toLong * 10, s"s-$i")))
  }

  test("MoR delete on a column an older file lacks: NULL keeps its rows") {
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    (0 until 50).map(i => (i.toLong, s"old-$i")).toDF("id", "tag")
      .coalesce(1).write.format("dwrf").mode("overwrite").save(dir)
    (50 until 100).map(i => (i.toLong, s"new-$i", i + 0.5))
      .toDF("id", "tag", "score")
      .coalesce(1).write.format("dwrf").mode("append").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    // both files must be decoded: the old one for id = 3 (score reads
    // NULL there, so only that row goes), the new one for the score
    val res = DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(org.apache.spark.sql.sources.Or(
        EqualTo("id", 3L), EqualTo("score", 60.5))))
    assert(res.rowsDeleted === 2L && res.dvsWritten === 2)
    assert(ids(dir) === (0L until 100L).filterNot(Set(3L, 60L)))
  }

  test("MoR refuses tables without a snapshot log") {
    val dir = tmpDir()
    writeRange(dir, 0, 10)
    val err = intercept[IllegalStateException](
      DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(EqualTo("id", 1L))))
    assert(err.getMessage.contains("snapshot log"))
  }

  // ----------------------------------------- interactions with rewrites

  test("copy-on-write DELETE after MoR: masked rows stay deleted") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 2)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(EqualTo("id", 10L)))
    // CoW rewrite of files that MIGHT hold id=20 must apply the DV mask
    val res = DwrfDelete.deleteWhere(spark, dir, schemaOf(dir),
      Array(EqualTo("id", 20L)))
    assert(res.rowsDeleted === 1L)
    assert(ids(dir) === (0L until 100L).filterNot(i => i == 10L || i == 20L))
    // the rewritten file's binding dropped with it
    val snap = DwrfLog.latest(new Path(dir), conf).get
    val live = snap.files.toSet
    assert(snap.dvs.keySet.subsetOf(live))
  }

  test("OPTIMIZE purges delete vectors and restores footer aggregates") {
    val dir = tmpDir()
    writeRange(dir, 0, 200, parts = 4)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(LessThan("id", 25L)))
    assert(DwrfLog.latest(new Path(dir), conf).get.dvs.nonEmpty)

    // with DVs bound, COUNT(*) KEEPS the footer LocalScan — live rows =
    // footer numRows − DV cardinality, both planning-time metadata —
    // while every stats-backed aggregate (the footers still describe
    // the masked rows) must fall back to the distributed plan
    def plansLocal(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan
      (p +: p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
      }).flatMap(_.collect {
        case l: org.apache.spark.sql.execution.LocalTableScanExec => l
      }).nonEmpty
    }
    val masked = spark.read.format("dwrf").load(dir).groupBy().count()
    assert(plansLocal(masked), "COUNT(*) under DVs must stay zero-I/O")
    assert(masked.collect().head.getLong(0) === 175L)
    val poisonedMin = spark.read.format("dwrf").load(dir)
      .agg(org.apache.spark.sql.functions.min("id"))
    assert(!plansLocal(poisonedMin),
      "MIN under DVs must go distributed (deleted rows may hold the min)")
    assert(poisonedMin.collect().head.getLong(0) === 25L)
    // mixing COUNT(*) with a poisoned aggregate poisons the whole push
    val mixed = spark.read.format("dwrf").load(dir)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.max("id"))
    assert(!plansLocal(mixed))
    assert(mixed.collect().head === org.apache.spark.sql.Row(175L, 199L))

    DwrfOptimize.rewrite(spark, dir, Seq("id"))
    val snap = DwrfLog.latest(new Path(dir), conf).get
    assert(snap.dvs.isEmpty, "optimize must purge DV bindings")
    assert(ids(dir) === (25L until 200L))
    // the full pushdown returns once the masks are gone
    val after = spark.read.format("dwrf").load(dir)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min("id"))
    assert(plansLocal(after))
    assert(after.collect().head === org.apache.spark.sql.Row(175L, 25L))
    // vacuum reclaims the sidecars along with replaced inputs
    DwrfLog.vacuum(new Path(dir), conf, retainLast = 1)
    val fs = new Path(dir).getFileSystem(conf)
    val dvDir = new Path(dir, DwrfDv.DvDirName)
    assert(!fs.exists(dvDir) || fs.listStatus(dvDir).isEmpty)
  }

  test("compaction skips DV'd files (byte concat would resurrect rows)") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 8)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(EqualTo("id", 0L)))
    val snap = DwrfLog.latest(new Path(dir), conf).get
    val dvFiles = snap.dvs.keySet
    assert(dvFiles.size === 1)
    val res = DwrfCompact.compact(spark, dir, targetBytes = 1L << 30)
    val after = DwrfLog.latest(new Path(dir), conf).get
    // the DV'd file is still live, unmerged, binding intact
    assert(dvFiles.subsetOf(after.files.toSet))
    assert(after.dvs === snap.dvs)
    assert(res.filesCompacted === 7)
    assert(ids(dir) === (1L until 100L))
  }

  test("concurrent DV rebinding conflicts a stale copy-on-write commit") {
    val dir = tmpDir()
    writeRange(dir, 0, 100, parts = 1)
    DwrfLog.enable(new Path(dir), conf)
    val root = new Path(dir)
    val observed = DwrfLog.latest(root, conf).get // reads: no DV bound
    val file = observed.resolved(DwrfUtil.qualify(root, conf)).head
    // a MoR delete lands AFTER the hypothetical rewrite planned
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(EqualTo("id", 3L)))
    // the rewrite's commit must now refuse: its output was computed
    // without the new mask
    val err = intercept[java.util.ConcurrentModificationException](
      DwrfLog.commitReplace(root, conf, Seq(file), Nil, "stale-rewrite",
        observedDvs = observed.dvs))
    assert(err.getMessage.contains("delete-vector") ||
      err.getMessage.contains("delete"))
  }

  test("log-follow stream treats a DV commit as a change commit") {
    val dir = tmpDir()
    writeRange(dir, 0, 50, parts = 1)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir), Array(EqualTo("id", 5L)))
    val ckpt = tmpDir()
    val out = tmpDir()
    def run(skip: Boolean): Either[Throwable, Long] =
      try {
        val reader = spark.readStream.format("dwrf")
        if (skip) reader.option("skipChangeCommits", "true")
        val q = reader.load(dir)
          .writeStream.format("memory")
          .queryName(s"dv_stream_${if (skip) "skip" else "fail"}")
          .option("checkpointLocation",
            new Path(ckpt, if (skip) "s" else "f").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        Right(spark.table(s"dv_stream_${if (skip) "skip" else "fail"}").count())
      } catch { case t: Throwable => Left(t) }
    val failed = run(skip = false)
    assert(failed.isLeft)
    assert(failed.left.exists { t =>
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.getMessage != null) &&
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(c => Option(c.getMessage)).exists(_.contains("delete vectors"))
    })
    val skipped = run(skip = true)
    assert(skipped === Right(50L)) // v0 snapshot streams; the DV commit skips
  }

  // ------------------------------------------------- partition masking

  test("masking is exact across manual stripe-group boundaries") {
    val dir = tmpDir()
    val s = spark
    import s.implicits._
    // tiny stripes -> many stripes in one file, so a mid-file partition
    // exercises the rowBase offset of the mask walk
    (0 until 5000).map(i => (i.toLong, ("x" * 50) + i)).toDF("id", "pad")
      .coalesce(1)
      .write.format("dwrf").mode("overwrite")
      .option("stripe.size", 16 * 1024).save(dir)
    DwrfLog.enable(new Path(dir), conf)
    DwrfDv.deleteWhere(spark, dir, schemaOf(dir),
      Array(org.apache.spark.sql.sources.In("id",
        Array(0L, 1L, 2499L, 2500L, 2501L, 4998L, 4999L))))
    val file = DwrfLog.latest(new Path(dir), conf).get
      .resolved(DwrfUtil.qualify(new Path(dir), conf)).head
    val dvRel = DwrfLog.latest(new Path(dir), conf).get.dvs.values.head
    val dvAbs = new Path(new Path(dir), dvRel).toString
    val r = new DwrfFileReader(file, conf)
    val stripes = try r.footer.stripes finally r.close()
    assert(stripes.size >= 3, s"need multiple stripes, got ${stripes.size}")
    // split the file into two manual groups at a stripe boundary
    val cut = stripes(stripes.size / 2)
    val schema = schemaOf(dir)
    val factory = new DwrfPartitionReaderFactory(schema.json, Array.empty,
      new SerializableHadoopConf(conf))
    def readGroup(off: Long, len: Long): Seq[Long] = {
      val rd = factory.createReader(
        DwrfInputPartition(file.toString, off, len, Nil, Some(dvAbs)))
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (rd.next()) buf += rd.get().getLong(0)
      rd.close()
      buf.toSeq
    }
    val end = stripes.last.offset + stripes.last.indexLength +
      stripes.last.dataLength + stripes.last.footerLength
    val first = readGroup(stripes.head.offset, cut.offset - stripes.head.offset)
    val second = readGroup(cut.offset, end - cut.offset)
    val expected = (0L until 5000L)
      .filterNot(Set(0L, 1L, 2499L, 2500L, 2501L, 4998L, 4999L))
    assert((first ++ second).sorted === expected)
    assert(second.nonEmpty && first.nonEmpty)
  }

  // -------------------------------------------------------- sql surface

  test("delete.mode=merge-on-read routes SQL DELETE through the DV tier") {
    val dir = tmpDir()
    writeRange(dir, 0, 60, parts = 2)
    DwrfLog.enable(new Path(dir), conf)
    val before = fileStamps(dir)
    spark.sql("DROP TABLE IF EXISTS dv_sql_t")
    spark.sql(
      s"""CREATE TABLE dv_sql_t USING dwrf LOCATION '$dir'
         |TBLPROPERTIES ('${DwrfDv.DeleteModeKey}'='${DwrfDv.ModeMergeOnRead}')
         |""".stripMargin)
    try {
      spark.sql("DELETE FROM dv_sql_t WHERE id = 42")
      assert(ids(dir) === (0L until 60L).filterNot(_ == 42L))
      assert(fileStamps(dir) === before) // no rewrite happened
      assert(DwrfLog.latest(new Path(dir), conf).get.dvs.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS dv_sql_t")
  }
}
