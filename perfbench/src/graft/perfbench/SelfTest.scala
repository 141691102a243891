package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.Row

import graft.sources.dwrf.DwrfLog

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Exits non-zero when any test fails. */
object SelfTest {
  private var failures = 0

  // what BENCHMARK.json accepts as a metric name and a unit
  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val UnitPattern = "[A-Za-z0-9_/%.-]{1,16}".r

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case NonFatal(e) => println(s"FAIL $name: $e"); e.printStackTrace(); false
      case e: AssertionError => println(s"FAIL $name: ${e.getMessage}"); false
    }
    if (ok) println(s"ok   $name") else failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val out = argv(0)
    val spark = Main.session(2, out)

    test("the same seed yields the same rows, on the driver and on executors") {
      val (a, b) = (Gen(11), Gen(11))
      val ids = Seq(0L, 1L, 399L, 400L, 123456L, 9876543L)
      assert(ids.forall(i => a.row(i) == b.row(i)), "two generators of one seed disagree")
      assert(ids.exists(i => a.row(i) != Gen(12).row(i)), "another seed gives the same rows")
      assert(a.row(5, 1) != a.row(5), "an upserted version equals the original row")
      val g = a
      val onExecutors = spark.createDataFrame(
        spark.sparkContext.range(0, 300, 1, 3).map(i => g.row(i)), Gen.Schema)
        .collect().sortBy(_.getLong(0)).toSeq
      assert(onExecutors == (0L until 300L).map(a.row(_)), "executor-generated rows differ")
      val tags = (0L until 5000L).map(a.row(_).getString(Gen.Tag))
      assert(tags.distinct.size == tags.size, "l_tag is not unique")
    }

    test("tail: the highest percentile with at least ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble).reverse
      assert(Stats.tail(xs) == Some(Stats.Tail(90.0, 90.0, 10, 100)), Stats.tail(xs).toString)
      assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "ten samples have no tail")
      val t = Stats.tail((1 to 11).map(_.toDouble)).get
      assert(t.value == 1.0 && t.samples == 11 && xs.count(_ > 90.0) == 10, t.toString)
      assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    }

    test("metric names and units use the allowed characters") {
      (Main.EndToEnd ++ Main.PerLayer).foreach { case (n, u) =>
        assert(NamePattern.matches(n), s"bad metric name $n")
        assert(UnitPattern.matches(u), s"bad unit $u of $n")
      }
      assert((Main.EndToEnd ++ Main.PerLayer).map(_._1).distinct.size ==
        Main.EndToEnd.size + Main.PerLayer.size, "a metric name is used twice")
      Seq("", "_lead", ".lead", "has space", "x" * 65, "semi;colon").foreach(n =>
        assert(!NamePattern.matches(n), s"accepted name '$n'"))
      Seq("", "m s", "x" * 17).foreach(u => assert(!UnitPattern.matches(u), s"accepted unit '$u'"))
    }

    val tiny = Sizes(scanRows = 20000, scanFiles = 4, ingestSmall = 500, ingestLarge = 5000,
      mutateRows = 20000, mutateFiles = 4, mutateChange = 50)

    test("a wrong or failing answer counts as failed, a right one does not") {
      val w = new ScanWorkload(spark, Gen(3), tiny)
      w.prepare(new org.apache.hadoop.fs.Path(Paths.get(out, "checker").toAbsolutePath.toUri))
      w.buildModel()
      val r = new Runner(w, None)
      val right = w.next() // the pattern starts with a full read
      assert(right.kind == "full")
      assert(r.runOp(right).ok, s"the right answer failed: ${r.failures}")
      val truth = right.run().asInstanceOf[Row]
      val wrong = new Op("full") {
        def run(): Any = Row.fromSeq(truth.toSeq.updated(1, truth.getLong(1) + 1))
        def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = right.check(res, b, a)
      }
      val empty = new Op("point") {
        def run(): Any = Array.empty[Row]
        def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) =
          if (res.asInstanceOf[Array[Row]].isEmpty) Some("no row") else None
      }
      val throwing = new Op("range") {
        def run(): Any = throw new IllegalStateException("boom")
        def check(res: Any, b: DwrfLog.Snapshot, a: DwrfLog.Snapshot) = None
      }
      Seq(wrong, empty, throwing).foreach(op => assert(!r.runOp(op).ok, s"${op.kind} passed"))
      assert(r.attempted == 4 && r.failed == 3, s"attempted ${r.attempted}, failed ${r.failed}")
    }

    val smoke = Main.Workloads.map { wl =>
      val dir = Paths.get(out, wl)
      Files.createDirectories(dir)
      wl -> Main.run(Args(wl, 5, if (wl == "mutate") 8 else 4, trace = true, dir.toString,
        tiny, setupReps = 1), System.currentTimeMillis(), Some(spark))
    }.toMap

    test("tiny traced runs of every workload answer correctly") {
      smoke.foreach { case (wl, r) =>
        assert(r.correct && r.attempted > 3, s"$wl: ${r.attempted} attempted, ${r.failed} failed " +
          r.detail("failures"))
        assert(r.metrics.keySet == Main.PerLayer.map(_._1).toSet, s"$wl: metric set differs")
      }
    }

    test("layer numbers are non-zero where the layer works and zero where it must not") {
      def v(wl: String, k: String) = smoke(wl).metrics(k).value
      assert(v("ingest", "writer.bytes_out") > 0, "ingest wrote no bytes")
      assert(v("scan", "writer.bytes_out") == 0, "scan wrote bytes")
      assert(v("mutate", "dml.files_added_per_op") > 0, "mutate added no files")
      assert(v("scan", "reader.bytes_read") > 0, "scan read no bytes")
      assert(v("ingest", "reader.bytes_read") == 0, "ingest read table bytes")
      assert(v("scan", "log.versions") == 0 && v("ingest", "log.versions") == 1)
      assert(v("scan", "dml.files_added_per_op") == 0 && v("ingest", "dml.files_added_per_op") == 0)
    }

    test("catalyst self time, job time and the residual add up to the op wall time") {
      smoke.foreach { case (wl, r) =>
        def v(k: String) = r.metrics(k).value
        val sum = v("catalyst.self_ms") + v("executor.job_ms") + v("driver.residual_ms")
        assert(v("op.wall_ms") > 0 && math.abs(sum - v("op.wall_ms")) < 1e-6 * v("op.wall_ms"),
          s"$wl: $sum vs ${v("op.wall_ms")}")
        assert(v("driver.residual_ms") >= 0, s"$wl: negative residual")
      }
      val spans = Files.readAllLines(Paths.get(out, "scan", "spans.jsonl"))
      assert(!spans.isEmpty && spans.get(0).contains("\"op.") && spans.toString.contains("parent"))
    }

    // for run.py to compare with BENCHMARK.json
    Files.write(Paths.get(out, "metrics.tsv"), ((Main.EndToEnd.map("end_to_end" -> _) ++
      Main.PerLayer.map("per_layer" -> _)).map { case (kind, (n, u)) => s"$kind\t$n\t$u" } :+ "")
      .mkString("\n").getBytes("UTF-8"))

    spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
