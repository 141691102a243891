package graft.sources.dwrf

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.ColumnStats

/** Manifest-carried file stats ([[DwrfLogStats]]): snapshot-table scan
  * planning prunes files from the commit's stats sidecar before opening
  * any footer, and every fallback path (missing sidecar, corrupt
  * sidecar, unknown file) degrades to footer reads — never to wrong
  * results.
  */
class DwrfLogStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  private def tmpDir(): String =
    Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "dwrf-lstats-").toString

  /** 8 range-disjoint files over id 0..799 (file k holds [k*100,(k+1)*100)). */
  private def writeRanged(dir: String): Unit =
    spark.range(0, 800, 1, 8)
      .select(col("id"), concat(lit("n-"), format_string("%04d", col("id"))).as("name"),
        (col("id") * 0.5).as("score"))
      .sortWithinPartitions("id")
      .write.format("dwrf").mode("overwrite").save(dir)

  /** Canonical order-insensitive view, restricted to the fields the
    * sidecar serializes (sums/lengths only round-trip as the NaN flag). */
  private def norm(m: DwrfLogStats.Summaries): Seq[(String, Seq[(String, ColumnStats)])] =
    m.toSeq.sortBy(_._1).map { case (f, cs) =>
      // NaN-poisoned sums normalize to a comparable sentinel (NaN != NaN
      // would fail case-class equality even for identical stats)
      f -> cs.toSeq.sortBy(_._1).map { case (c, st) => c -> st.copy(
        doubleSum = if (java.lang.Double.isNaN(st.doubleSum)) -1.25 else 0.0,
        longSum = 0L, longSumOverflowed = false, totalLength = 0L) }
    }

  private def idsWhere(dir: String, cond: String): Seq[Long] =
    spark.read.format("dwrf").load(dir).where(cond)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("sidecar serde round-trips exotic names, bounds, and NaN poisoning") {
    val sums: DwrfLogStats.Summaries = Map(
      "a=1/part \"w\"\t x\n.dwrf" -> Map(
        "col\twith\ttabs" -> ColumnStats(5, hasNull = true, longMin = -3, longMax = 9),
        "d" -> ColumnStats(2, hasNull = false,
          doubleMin = -0.0, doubleMax = 1.5e300, doubleSum = Double.NaN),
        "s" -> ColumnStats(3, hasNull = false, stringMin = "a\nb", stringMax = "π🙂")),
      "plain.dwrf" -> Map(
        "b" -> ColumnStats(4, hasNull = false, trueCount = 2)))
    val parsed = DwrfLogStats.parse(DwrfLogStats.render(sums))
    assert(norm(parsed) === norm(sums))
    // over-long string bounds are dropped, not truncated (a truncated
    // max would sanction wrong skips)
    val long = "x" * 300
    val p2 = DwrfLogStats.parse(DwrfLogStats.render(
      Map("f" -> Map("s" -> ColumnStats(1, hasNull = false,
        stringMin = "lo", stringMax = long)))))
    assert(p2("f")("s").stringMin === "lo" && p2("f")("s").stringMax === null)
  }

  test("narrow filter on a snapshot table prunes files before any footer read") {
    val dir = tmpDir()
    writeRanged(dir)
    DwrfLog.enable(new Path(dir), conf)
    assert(DwrfLogStats.load(new Path(dir), conf, 0L).exists(_.size === 8))

    val fr0 = DwrfPlanningProbe.footerReads.get()
    val mp0 = DwrfPlanningProbe.manifestPruned.get()
    assert(idsWhere(dir, "id BETWEEN 150 AND 249") === (150L to 249L))
    val footersOpened = DwrfPlanningProbe.footerReads.get() - fr0
    val pruned = DwrfPlanningProbe.manifestPruned.get() - mp0
    assert(pruned === 6, s"6 of 8 range-disjoint files must prune, got $pruned")
    assert(footersOpened === 2,
      s"only the 2 surviving files' footers may be read, got $footersOpened")

    // string bounds prune too
    val mp1 = DwrfPlanningProbe.manifestPruned.get()
    assert(idsWhere(dir, "name = 'n-0042'") === Seq(42L))
    assert(DwrfPlanningProbe.manifestPruned.get() - mp1 === 7)
  }

  test("missing or corrupt sidecar falls back to the footer pass, same rows") {
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val expected = (300L to 399L)

    val fs = root.getFileSystem(conf)
    val sidecar = new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(0L))
    // corrupt: parse fails → None → footer pass
    val out = fs.create(sidecar, true)
    out.write("not a sidecar".getBytes("UTF-8")); out.close()
    val fr0 = DwrfPlanningProbe.footerReads.get()
    assert(idsWhere(dir, "id BETWEEN 300 AND 399") === expected)
    assert(DwrfPlanningProbe.footerReads.get() - fr0 === 8)

    // missing: same fallback
    fs.delete(sidecar, false)
    assert(idsWhere(dir, "id BETWEEN 300 AND 399") === expected)
  }

  test("DML commits keep the sidecar in lockstep with the manifest") {
    import org.apache.spark.sql.sources.LessThan
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val schema = spark.read.format("dwrf").load(dir).schema
    DwrfDelete.deleteWhere(spark, dir, schema, Array(LessThan("id", 150L)))

    val snap = DwrfLog.latest(root, conf).get
    val sums = DwrfLogStats.load(root, conf, snap.version).get
    assert(sums.keySet === snap.files.toSet,
      "every live file must be summarized after a copy-on-write commit")
    // the rewritten file's manifest stats agree with its actual footer
    val fresh = DwrfLogStats.summarize(root, conf, snap.files)
    assert(norm(sums) === norm(fresh))
    // post-delete pruning still exact
    assert(idsWhere(dir, "id BETWEEN 100 AND 199") === (150L to 199L))
  }

  test("appends carry parent summaries forward; vacuum drops stale sidecars") {
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    spark.range(800, 900, 1, 1)
      .select(col("id"), concat(lit("n-"), format_string("%04d", col("id"))).as("name"),
        (col("id") * 0.5).as("score"))
      .write.format("dwrf").mode("append").save(dir)
    val v1 = DwrfLog.latest(root, conf).get
    assert(v1.version === 1L)
    val sums = DwrfLogStats.load(root, conf, 1L).get
    assert(sums.keySet === v1.files.toSet)

    val fs = root.getFileSystem(conf)
    DwrfLog.vacuum(root, conf, retainLast = 1)
    assert(!fs.exists(new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(0L))))
    assert(fs.exists(new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(1L))))
    assert(idsWhere(dir, "id >= 850") === (850L until 900L))
  }

  test("pruning soundness fuzz: manifest-pruned scans equal full-scan filters") {
    val dir = tmpDir()
    val r = new scala.util.Random(7)
    val rows = (0 until 2000).map { i =>
      (r.nextInt(1000).toLong, f"k-${r.nextInt(500)}%05d", r.nextDouble() * 100 - 50)
    }
    val s = spark
    import s.implicits._
    rows.toDF("id", "key", "v").repartition(6)
      .write.format("dwrf").mode("overwrite").save(dir)
    DwrfLog.enable(new Path(dir), conf)
    val df = spark.read.format("dwrf").load(dir)
    val conds = Seq(
      "id < 17", "id BETWEEN 990 AND 1000", "key = 'k-00007'",
      "v > 49.5", "v <= -49.9", "id = 123 AND v > 0",
      "key >= 'k-00490' AND id < 500", "id IN (1, 500, 999)",
      "key LIKE 'k-0001%'", "key LIKE 'q%'")
    val mem = rows.toDF("id", "key", "v") // in-memory semantics oracle
    conds.foreach { c =>
      val got = df.where(c).collect().map(_.toString).sorted.toSeq
      val want = mem.where(c).collect().map(_.toString).sorted.toSeq
      assert(got === want, s"condition: $c")
    }
  }

  // ------------------------------------------------- shared sidecars

  private def sidecarExists(root: Path, v: Long): Boolean =
    root.getFileSystem(conf).exists(
      new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(v)))

  private def manifestBody(root: Path, v: Long): String = {
    val fs = root.getFileSystem(conf)
    val in = fs.open(new Path(DwrfLog.logDir(root), f"v$v%020d.json"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def manifestPruned(dir: String, cond: String): (Seq[Long], Long) = {
    val mp0 = DwrfPlanningProbe.manifestPruned.get()
    val got = idsWhere(dir, cond)
    (got, DwrfPlanningProbe.manifestPruned.get() - mp0)
  }

  test("a merge-on-read DELETE shares its parent's sidecar and scans still prune") {
    import org.apache.spark.sql.sources.EqualTo
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val schema = spark.read.format("dwrf").load(dir).schema

    // two DV-only commits: the file set never changes, so both name v0's
    // sidecar and neither writes one
    DwrfDv.deleteWhere(spark, dir, schema, Array(EqualTo("id", 150L)))
    DwrfDv.deleteWhere(spark, dir, schema, Array(EqualTo("id", 160L)))
    val v2 = DwrfLog.latest(root, conf).get
    assert(v2.version === 2L && v2.dvs.size === 1)
    assert(v2.stats === Some(0L) && v2.statsVersion === 0L)
    assert(manifestBody(root, 1L).contains("\"stats\":0,"))
    assert(!sidecarExists(root, 1L) && !sidecarExists(root, 2L))
    val want = (150L to 249L).filterNot(Set(150L, 160L))
    val (got, pruned) = manifestPruned(dir, "id BETWEEN 150 AND 249")
    assert(got === want)
    assert(pruned === 6, s"the shared sidecar must still prune, pruned $pruned")

    // vacuum keeps the sidecar a retained manifest names, though the
    // version that wrote it is dropped
    DwrfLog.vacuum(root, conf, retainLast = 1)
    val fs = root.getFileSystem(conf)
    assert(!fs.exists(new Path(DwrfLog.logDir(root), f"v${0}%020d.json")))
    assert(sidecarExists(root, 0L), "a shared sidecar must survive vacuum")
    val (got2, pruned2) = manifestPruned(dir, "id BETWEEN 150 AND 249")
    assert(got2 === want && pruned2 === 6)
    // the next file-set change writes its own sidecar from the shared one
    DwrfDelete.deleteWhere(spark, dir, schema,
      Array(org.apache.spark.sql.sources.LessThan("id", 100L)))
    val v3 = DwrfLog.latest(root, conf).get
    assert(v3.stats === None && sidecarExists(root, 3L))
    assert(DwrfLogStats.load(root, conf, 3L).get.keySet === v3.files.toSet)
  }

  test("restore to a delete-vector-only version reads the sidecar it shares") {
    import org.apache.spark.sql.sources.{EqualTo, LessThan}
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    DwrfLog.enable(root, conf)
    val schema = spark.read.format("dwrf").load(dir).schema
    DwrfDv.deleteWhere(spark, dir, schema, Array(EqualTo("id", 420L))) // v1
    DwrfDelete.deleteWhere(spark, dir, schema, Array(LessThan("id", 100L))) // v2
    assert(DwrfLog.read(root, conf, 1L).statsVersion === 0L)
    assert(DwrfLog.read(root, conf, 2L).stats === None)

    val v3 = DwrfLog.restore(root, conf, 1L)
    assert(v3.files === DwrfLog.read(root, conf, 1L).files)
    // the restored file set differs from its parent's: own sidecar, built
    // from the one v1 shares
    assert(v3.stats === None && sidecarExists(root, 3L))
    assert(norm(DwrfLogStats.load(root, conf, 3L).get) ===
      norm(DwrfLogStats.load(root, conf, 0L).get))
    val (got, pruned) = manifestPruned(dir, "id BETWEEN 400 AND 499")
    assert(got === (400L to 499L).filterNot(_ == 420L))
    assert(pruned === 7)
    assert(idsWhere(dir, "id < 100") === (0L until 100L))
  }

  test("a manifest without a stats field loads its own version's sidecar") {
    val dir = tmpDir()
    writeRanged(dir)
    val root = new Path(dir)
    val v0 = DwrfLog.enable(root, conf)
    assert(!manifestBody(root, 0L).contains("\"stats\""))
    // an older writer's v1 drops the first file; its manifest has no
    // stats field and it wrote its own sidecar
    val files = v0.files.drop(1)
    val fs = root.getFileSystem(conf)
    val out = fs.create(new Path(DwrfLog.logDir(root), f"v${1}%020d.json"), false)
    out.write(("{\"version\":1,\"ts\":" + (v0.ts + 1) + ",\"op\":\"delete\"," +
      files.map("\"" + _ + "\"").mkString("\"files\":[", ",", "]}")).getBytes("UTF-8"))
    out.close()
    DwrfLogStats.write(root, conf, 1L, DwrfLogStats.summarize(root, conf, files))
    fs.delete(new Path(DwrfLog.logDir(root), DwrfLogStats.sidecarName(0L)), false)

    val v1 = DwrfLog.latest(root, conf).get
    assert(v1.version === 1L && v1.stats === None && v1.statsVersion === 1L)
    val (got, pruned) = manifestPruned(dir, "id BETWEEN 150 AND 249")
    assert(got === (150L to 249L))
    assert(pruned === 5, s"v1's own sidecar must prune, pruned $pruned")
  }

  test("commits that change the file set write their own sidecar") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    val root = new Path(dir)
    s.sql("DROP TABLE IF EXISTS dwrf_lstats_dml")
    s.sql(s"CREATE TABLE dwrf_lstats_dml (id BIGINT, bal DOUBLE) USING dwrf LOCATION '$dir'")
    s.sql("INSERT INTO dwrf_lstats_dml VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    DwrfLog.enable(root, conf)
    def ownSidecar(op: String): Unit = {
      val snap = DwrfLog.latest(root, conf).get
      assert(snap.op === op)
      assert(snap.stats === None && sidecarExists(root, snap.version),
        s"$op must write v${snap.version}'s own sidecar")
      assert(DwrfLogStats.load(root, conf, snap.version).get.keySet ===
        snap.files.toSet)
    }
    s.sql("INSERT INTO dwrf_lstats_dml VALUES (4, 40.0)")
    ownSidecar("append")
    s.sql("DELETE FROM dwrf_lstats_dml WHERE id = 4")
    ownSidecar("delete")
    s.sql("UPDATE dwrf_lstats_dml SET bal = bal * 2 WHERE id >= 2")
    ownSidecar("update")
    Seq((2L, 5.0), (9L, 9.0)).toDF("id", "amt").createOrReplaceTempView("lstats_chg")
    s.sql("""MERGE INTO dwrf_lstats_dml t USING lstats_chg c ON t.id = c.id
            |WHEN MATCHED THEN UPDATE SET bal = t.bal + c.amt
            |WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (c.id, c.amt)
            |""".stripMargin)
    ownSidecar("merge")
    assert(s.sql("SELECT id, bal FROM dwrf_lstats_dml").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq ===
      Seq((1L, 10.0), (2L, 45.0), (3L, 60.0), (9L, 9.0)))
    s.sql("DROP TABLE dwrf_lstats_dml")
  }
}
