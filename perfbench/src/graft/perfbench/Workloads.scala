package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.dwrf.{DwrfLog, DwrfOptimize}

/** One timed statement. `run` is what the latency covers; `check` is not
  * timed: it compares the result (and the table's log snapshot after the
  * op) with the model, applies the op to the model when it is right and
  * says what is wrong otherwise. */
abstract class Op(val kind: String) {
  def run(): Any
  def check(result: Any, before: DwrfLog.Snapshot, after: DwrfLog.Snapshot): Option[String]
  /** Rows a `full` read covered or an append wrote. */
  def rows: Long = 0L
  /** Rows a DML statement deleted, updated or inserted. */
  def rowsChanged: Long = 0L
  /** Rows a lookup returned. */
  def rowsReturned: Long = 0L
  def release(): Unit = ()
}

/** Sizes of one run. The defaults are what the benchmark of record runs;
  * the self-test shrinks them. */
final case class Sizes(
    scanRows: Long = 400000L,
    scanFiles: Int = 8,
    ingestSmall: Long = 5000L,
    ingestLarge: Long = 100000L,
    mutateRows: Long = 100000L,
    mutateFiles: Int = 8,
    mutateChange: Int = 1000)

/** A workload: a table, its model, and the seeded closed-loop op sequence.
  * `short`, `long` and `read` name the op kinds behind the end-to-end
  * metrics `short_op_p50_ms`/`short_op_tail_ms`, `long_op_p50_ms` and
  * `rows_per_s`. Each latency metric covers one op kind: an order
  * statistic over two kinds of different cost lands on the boundary
  * between their latency modes and jumps from run to run. */
abstract class Workload(val spark: SparkSession, val gen: Gen, val sizes: Sizes) {
  def name: String
  def short: String
  def long: String
  def read: Set[String]
  val rng = new scala.util.Random(Gen.mix(gen.seed ^ 0x5eedL))
  var root: Path = _
  protected val model = new Agg
  protected def conf = spark.sparkContext.hadoopConfiguration

  /** The timed, repeated set-up: generate the rows and write the initial
    * log-enabled table under `dir`. */
  def prepare(dir: Path): Unit
  /** Builds the model of the prepared table (not part of set-up time). */
  def buildModel(): Unit
  /** How many ops of the sequence run after set-up, to warm caches and
    * JIT: every op kind of the loop once. Checked, not recorded. */
  def warmUpOps: Int
  def next(): Op
  /** The end-of-run check of the whole table against the model. */
  def finalCheck(): Option[String]
  def liveRows: Long = model.longs(0)
  def rawBytes: Long = model.raw

  protected def generatedRows(from: Long, until: Long, parts: Int): RDD[Row] = {
    val g = gen
    spark.sparkContext.range(from, until, 1, parts).map(i => g.row(i))
  }

  protected def generated(from: Long, until: Long, parts: Int): DataFrame =
    spark.createDataFrame(generatedRows(from, until, parts), Gen.Schema)

  protected def writeTable(df: DataFrame, dir: Path, mode: String): Unit =
    df.write.format("dwrf").options(Gen.WriteOptions).mode(mode).save(dir.toString)

  protected def load(): DataFrame = spark.read.format("dwrf").load(root.toString)

  protected def fullOp(table: => DataFrame): Op = new Op("full") {
    def run(): Any = table.selectExpr(Gen.FullAggregates: _*).collect().head
    def check(r: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) =
      model.mismatch(r.asInstanceOf[Row]).orElse(versionStep(b, a, 0))
    override def rows: Long = liveRows
  }

  protected def versionStep(b: DwrfLog.Snapshot, a: DwrfLog.Snapshot, want: Long): Option[String] =
    if (a.version == b.version + want) None
    else Some(s"log version ${b.version} -> ${a.version}, want +$want")
}

/** `scan`: a static table; full reads, ~1% date ranges and bloom point
  * lookups. Nothing is written after set-up. */
final class ScanWorkload(spark: SparkSession, gen: Gen, sizes: Sizes)
    extends Workload(spark, gen, sizes) {
  val name = "scan"
  val short = "point"
  val long = "range"
  val read = Set("full")
  private val n = sizes.scanRows
  // fixed op proportions, seeded keys: every seed runs the same mix
  private val pattern = Vector("full", "range", "point", "point", "range", "point", "point")
  private var i = 0

  def prepare(dir: Path): Unit = {
    writeTable(generated(0, n, sizes.scanFiles), dir, "overwrite")
    DwrfLog.enable(dir, conf)
    root = dir
  }

  def buildModel(): Unit = model.addAll(gen, 0L, n)

  def warmUpOps: Int = 3 // full, range, point

  def next(): Op = { val op = mk(pattern(i % pattern.length)); i += 1; op }

  private def mk(kind: String): Op = kind match {
    case "full" => fullOp(load())
    case "range" => rangeOp()
    case "point" => pointOp(math.floorMod(rng.nextLong(), n))
  }

  private def unchanged(b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = versionStep(b, a, 0)

  private def rangeOp(): Op = {
    val days = (n + Gen.RowsPerDay - 1) / Gen.RowsPerDay
    val span = math.max(1L, days / 100)
    val d1 = (rng.nextLong() >>> 1) % math.max(1L, days - span + 1)
    val (lo, hi) = (d1 * Gen.RowsPerDay, math.min(n, (d1 + span) * Gen.RowsPerDay))
    val want = new Agg
    (lo until hi).foreach(id => want.add(gen.row(id)))
    val from = java.time.LocalDate.ofEpochDay(Gen.BaseDay + d1)
    val to = from.plusDays(span - 1)
    new Op("range") {
      def run(): Any = load().where(s"l_shipdate BETWEEN DATE'$from' AND DATE'$to'")
        .selectExpr("count(*)", "sum(l_quantity)", "sum(crc32(cast(l_shipmode as binary)))",
          "sum(l_extendedprice)").collect().head
      def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = {
        val r = res.asInstanceOf[Row]
        val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))
        val price = if (r.isNullAt(3)) 0.0 else r.getDouble(3)
        if (got != ((want.longs(0), want.longs(6), want.longs(10))) ||
            math.abs(price - want.price) > 1e-9 * math.max(1.0, want.price))
          Some(s"range $from..$to: got $got/$price, want " +
            s"${(want.longs(0), want.longs(6), want.longs(10))}/${want.price}")
        else unchanged(b, a)
      }
      override def rowsReturned: Long = want.longs(0)
    }
  }

  private def pointOp(id: Long): Op = {
    val want = gen.row(id)
    val tag = want.getString(Gen.Tag)
    new Op("point") {
      def run(): Any = load().where(col("l_tag") === tag).collect()
      def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = {
        val got = res.asInstanceOf[Array[Row]].toSeq
        if (got != Seq(want)) Some(s"point $tag: got ${got.size} rows ${got.headOption}, want $want")
        else unchanged(b, a)
      }
      override def rowsReturned: Long = 1L
    }
  }

  def finalCheck(): Option[String] = {
    val v = DwrfLog.latest(root, conf).map(_.version)
    if (v.contains(0L)) None else Some(s"scan table moved to version $v")
  }
}

/** `ingest`: closed-loop appends of large (encode/compress-bound) and small
  * (commit/per-job-bound) batches into a log-enabled table. Each batch is
  * generated before its append is timed. */
final class IngestWorkload(spark: SparkSession, gen: Gen, sizes: Sizes)
    extends Workload(spark, gen, sizes) {
  val name = "ingest"
  val short = "append_small"
  val long = "append_large"
  val read = Set("append_small", "append_large")
  private val SmallPerLarge = 4
  private var nextId = 0L
  private var i = 0

  def prepare(dir: Path): Unit = {
    writeTable(generated(0, sizes.ingestSmall, 1), dir, "overwrite")
    DwrfLog.enable(dir, conf)
    root = dir
  }

  def buildModel(): Unit = {
    model.addAll(gen, 0L, sizes.ingestSmall)
    nextId = sizes.ingestSmall
  }

  def warmUpOps: Int = 2 // large, small

  def next(): Op = {
    val op = append(large = i % (SmallPerLarge + 1) == 0)
    i += 1
    op
  }

  private def append(large: Boolean): Op = {
    val (lo, hi) = (nextId, nextId + (if (large) sizes.ingestLarge else sizes.ingestSmall))
    nextId = hi
    // the generated rows wait as objects (a large batch cached on the
    // executors, a small one on the driver: a caching job would cost more
    // than the append); the timed append converts and writes them
    val cached = if (large) Some(generatedRows(lo, hi, 4).cache()) else None
    cached.foreach(_.count())
    val local = if (large) Nil else (lo until hi).map(gen.row(_))
    new Op(if (large) "append_large" else "append_small") {
      def run(): Any = writeTable(cached match {
        case Some(rdd) => spark.createDataFrame(rdd, Gen.Schema)
        case None => spark.createDataFrame(local.asJava, Gen.Schema).coalesce(1)
      }, root, "append")
      def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = {
        val bad = versionStep(b, a, 1)
        // acknowledged: the batch is in the model from now on
        if (bad.isEmpty) cached match {
          case Some(rdd) => model.merge(rdd.mapPartitions { it =>
            val a = new Agg
            it.foreach(a.add(_))
            Iterator(a)
          }.reduce(_.merge(_)))
          case None => local.foreach(model.add(_))
        }
        bad
      }
      override def rows: Long = hi - lo
      override def release(): Unit = cached.foreach(_.unpersist())
    }
  }

  /** Every acknowledged row is present once and every column agrees with
    * the model, in one pass: the count is the acknowledged count, the ids
    * lie in [0, count), and their sum (one of the full aggregates) and sum
    * of squares are those of 0 until count — a lost or a twice-committed
    * batch (a run of at least `ingestSmall` ids) changes them. */
  def finalCheck(): Option[String] = {
    val r = load().selectExpr(Gen.FullAggregates ++ Seq("min(l_id)", "max(l_id)",
      "sum(cast(l_id as decimal(38, 0)) * l_id)"): _*).collect().head
    val k = Gen.FullAggregates.size
    val n = model.longs(0)
    val squares = BigInt(n - 1) * n * (2 * n - 1) / 6
    val ids = (r.getLong(k), r.getLong(k + 1), BigInt(r.getDecimal(k + 2).toBigIntegerExact))
    if (ids != ((0L, n - 1, squares)))
      Some(s"ingest ids (min, max, sum of squares) = $ids, want (0, ${n - 1}, $squares)")
    else model.mismatch(r)
  }
}

/** `mutate`: a log-enabled catalog table with merge-on-read DELETE/UPDATE
  * and copy-on-write MERGE. A cycle is `DeletesPerUpdate` point
  * DELETEs, one narrow UPDATE, one MERGE upsert of recent keys and one
  * `full` read; every `OptimizeEvery` cycles a sort OPTIMIZE purges
  * the delete vectors. DELETEs outnumber UPDATEs so the DELETE tail has its
  * ten samples beyond it within one run. */
final class MutateWorkload(spark: SparkSession, gen: Gen, sizes: Sizes)
    extends Workload(spark, gen, sizes) {
  val name = "mutate"
  val short = "delete"
  val long = "merge"
  val read = Set("full")
  val table = "perfbench_mutate"
  private val DeletesPerUpdate = 5
  private val OptimizeEvery = 2
  // per id: the generated version of the live row (-1: absent) and the
  // quantity the UPDATEs added to it
  private val ver = mutable.ArrayBuffer[Int]()
  private val qadj = mutable.ArrayBuffer[Int]()
  private var nextVer = 1
  private var cycle = 0
  // ops are built when they are due, so each sees the model as the ops
  // before it left it
  private val queue = mutable.Queue[() => Op]()

  def prepare(dir: Path): Unit = {
    writeTable(generated(0, sizes.mutateRows, sizes.mutateFiles), dir, "overwrite")
    DwrfLog.enable(dir, conf)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table USING dwrf LOCATION '$dir' TBLPROPERTIES " +
      "('delete.mode'='merge-on-read', 'update.mode'='merge-on-read')")
    root = dir
  }

  def buildModel(): Unit = {
    ver.clear(); qadj.clear()
    (0L until sizes.mutateRows).foreach { id =>
      model.add(gen.row(id)); ver += 0; qadj += 0
    }
  }

  private def modelRow(id: Int): Row = {
    val r = gen.row(id, ver(id))
    if (qadj(id) == 0) r
    else Row.fromSeq(r.toSeq.updated(Gen.Quantity, r.getInt(Gen.Quantity) + qadj(id)))
  }

  def warmUpOps: Int = DeletesPerUpdate + 3 // one cycle

  def next(): Op = {
    if (queue.isEmpty) {
      cycle += 1
      queue ++= Seq.fill(DeletesPerUpdate)(() => deleteOp())
      queue += (() => updateOp())
      queue ++= Seq(() => mergeOp(), () => fullOp(spark.table(table)))
      if (cycle % OptimizeEvery == 0) queue += (() => optimizeOp())
    }
    queue.dequeue()()
  }

  private def deleteOp(): Op = new Op("delete") {
    private var id = 0
    do id = rng.nextInt(ver.size) while (ver(id) < 0)
    def run(): Any = spark.sql(s"DELETE FROM $table WHERE l_id = $id")
    def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = {
      val bad = versionStep(b, a, 1)
      if (bad.isEmpty) { model.add(modelRow(id), -1); ver(id) = -1 }
      bad
    }
    override def rowsChanged: Long = 1L
  }

  private def updateOp(): Op = new Op("update") {
    private val lo = rng.nextInt(ver.size - 10)
    private val live = (lo until lo + 10).filter(ver(_) >= 0)
    def run(): Any = spark.sql(s"UPDATE $table SET l_quantity = l_quantity + 1 " +
      s"WHERE l_id BETWEEN $lo AND ${lo + 9}")
    def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = {
      val bad = versionStep(b, a, if (live.isEmpty) a.version - b.version else 1)
      if (bad.isEmpty) live.foreach { id => qadj(id) += 1; model.longs(Gen.Quantity + 1) += 1 }
      bad
    }
    override def rowsChanged: Long = live.size
  }

  /** Upserts `mutateChange` rows: ~70% of them new versions of distinct
    * recent keys (the top 5% of the id space), the rest new keys. */
  private def mergeOp(): Op = {
    val v = nextVer
    nextVer += 1
    val top = ver.size
    val window = math.max(2 * sizes.mutateChange, top / 20)
    val updates = rng.shuffle((top - window until top).toVector).take(sizes.mutateChange * 7 / 10)
    val ids = updates ++ (top until top + sizes.mutateChange - updates.size)
    val changes = ids.map(id => gen.row(id, v))
    spark.createDataFrame(changes.asJava, Gen.Schema).createOrReplaceTempView("perfbench_changes")
    new Op("merge") {
      def run(): Any = spark.sql(
        s"""MERGE INTO $table t USING perfbench_changes c ON t.l_id = c.l_id
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = {
        val bad = versionStep(b, a, 1)
        if (bad.isEmpty) ids.zip(changes).foreach { case (id, r) =>
          while (ver.size <= id) { ver += -1; qadj += 0 }
          if (ver(id) >= 0) model.add(modelRow(id), -1)
          ver(id) = v; qadj(id) = 0
          model.add(r)
        }
        bad
      }
      override def rowsChanged: Long = ids.size
    }
  }

  /** Sorted rewrite into about `mutateFiles` files (the SQL form's fixed
    * 256 MB target would collapse the table into one file). */
  private def optimizeOp(): Op = new Op("optimize") {
    def run(): Any = {
      val fs = root.getFileSystem(conf)
      val snap = DwrfLog.latest(root, conf).get
      val bytes = snap.resolved(root).map(p => fs.getFileStatus(p).getLen).sum
      DwrfOptimize.rewrite(spark, root.toString, Seq("l_id"),
        targetBytes = bytes / sizes.mutateFiles + 1)
    }
    def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) =
      versionStep(b, a, 1).orElse(
        if (a.dvs.nonEmpty) Some(s"${a.dvs.size} delete vectors survived OPTIMIZE") else None)
  }

  /** The table equals the model row for row. */
  def finalCheck(): Option[String] = {
    val live = ver.indices.filter(ver(_) >= 0)
    val want = live.iterator.map(modelRow)
    val got = spark.table(table).orderBy("l_id").toLocalIterator().asScala
    var k = 0L
    var bad: Option[String] = None
    while (bad.isEmpty && (want.hasNext || got.hasNext)) {
      if (!want.hasNext || !got.hasNext) bad = Some(s"row count differs after $k rows")
      else {
        val (w, g) = (want.next(), got.next())
        if (w != g) bad = Some(s"row $k: got $g, want $w")
      }
      k += 1
    }
    bad
  }
}
