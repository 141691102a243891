package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate}
import java.util.zip.CRC32

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The seeded lineitem-shaped row generator. Every value of row `id` is a
  * pure function of `(seed, id, ver)`, so the same seed yields the same
  * rows on any executor, and the driver-side model can recompute any row
  * without storing it. `ver` > 0 is an upserted version of the row (the
  * `mutate` MERGE batches).
  *
  * `l_shipdate` grows with `id` (`RowsPerDay` rows a day), so a table
  * written from contiguous id ranges is sorted on it and a date range
  * maps to an id range.
  */
final case class Gen(seed: Long) {
  import Gen._

  def row(id: Long, ver: Int = 0): Row = {
    var s = mix(mix(seed ^ 0x632be59bd9b4e019L) ^ mix(id) ^ (ver.toLong << 40))
    def next(): Long = { s = mix(s); s }
    def below(n: Int): Int = ((next() >>> 1) % n).toInt
    val qty = 1 + below(50)
    val price = qty * (900.0 + below(100000) / 100.0)
    val day = id / RowsPerDay
    val words = Array.fill(3 + below(4))(Vocabulary(below(Vocabulary.length)))
    val tsMicros = (BaseDay + day) * 86400000000L + below(86400) * 1000000L + below(1000000)
    Row(
      id,
      id >>> 2,
      1 + below(200000),
      1 + below(10000),
      (id % 7 + 1).toInt,
      qty,
      price,
      java.math.BigDecimal.valueOf(below(11).toLong, 2),
      java.math.BigDecimal.valueOf(below(9).toLong, 2),
      ReturnFlags(below(ReturnFlags.length)),
      ShipModes(below(ShipModes.length)),
      LocalDate.ofEpochDay(BaseDay + day),
      Instant.ofEpochSecond(tsMicros / 1000000L, (tsMicros % 1000000L) * 1000L),
      "k" + java.lang.Long.toHexString((next() & 0xffffffffL) | 0x100000000L).substring(1) +
        java.lang.Long.toString(id, 36),
      words.mkString(" "),
      if (below(10) < 3) null else s"note-${below(50)}",
      Seq.fill(below(5))(below(1000)))
  }

}

object Gen {
  val RowsPerDay = 400L
  val BaseDay: Long = LocalDate.of(1992, 1, 1).toEpochDay
  val Tag = 13 // l_tag: the high-cardinality bloom column
  val Quantity = 5

  val Schema: StructType = StructType(Seq(
    StructField("l_id", LongType, nullable = false),
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", IntegerType, nullable = false),
    StructField("l_suppkey", IntegerType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", IntegerType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DecimalType(4, 2), nullable = false),
    StructField("l_tax", DecimalType(4, 2), nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_shipmode", StringType, nullable = false),
    StructField("l_shipdate", DateType, nullable = false),
    StructField("l_commit_ts", TimestampType, nullable = false),
    StructField("l_tag", StringType, nullable = false),
    StructField("l_comment", StringType, nullable = false),
    StructField("l_note", StringType, nullable = true),
    StructField("l_parts", ArrayType(IntegerType, containsNull = false), nullable = false)))

  /** Write options of every table the benchmark creates. */
  val WriteOptions: Map[String, String] = Map("bloom.columns" -> "l_tag")

  private val ReturnFlags = Array("A", "N", "R")
  private val ShipModes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Vocabulary = Array(
    "carefully", "final", "deposits", "sleep", "quickly", "ironic", "packages",
    "boost", "furiously", "regular", "accounts", "haggle", "slyly", "express",
    "requests", "bold", "pinto", "beans", "cajole", "blithely", "even", "theodolites",
    "unusual", "foxes", "nag", "pending", "instructions", "wake", "silent", "asymptotes",
    "special", "dependencies", "integrate", "fluffily", "daring", "platelets", "detect",
    "thinly", "courts", "against", "ideas", "use", "across", "after", "along", "dolphins")

  def mix(z0: Long): Long = { // SplitMix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  /** Raw bytes of one row: each value at its natural width — 8 for BIGINT,
    * DOUBLE, TIMESTAMP and DECIMAL(4,2) (a long unscaled value), 4 for INT
    * and DATE, the UTF-8 length of a string, 4 per array element, 0 for a
    * null. The base of `stored_bytes_per_raw_byte`. */
  def rawBytes(r: Row): Long = {
    var b = 8L + 8 + 4 + 4 + 4 + 4 + 8 + 8 + 8 + 4 + 8
    for (i <- Seq(9, 10, 13, 14, 15) if !r.isNullAt(i)) b += r.getString(i).getBytes(UTF_8).length
    b + 4L * r.getSeq[Int](16).size
  }

  /** One aggregate per column, so a `full` read decodes and materializes
    * every value (and no aggregate can be answered from footer stats). */
  val FullAggregates: Seq[String] = Seq(
    "count(*)", "sum(l_id)", "sum(l_orderkey)", "sum(l_partkey)", "sum(l_suppkey)",
    "sum(l_linenumber)", "sum(l_quantity)", "sum(l_discount)", "sum(l_tax)",
    "sum(crc32(cast(l_returnflag as binary)))", "sum(crc32(cast(l_shipmode as binary)))",
    "sum(unix_date(l_shipdate))", "sum(unix_seconds(l_commit_ts))",
    "sum(unix_micros(l_commit_ts) % 1000000)", "sum(crc32(cast(l_tag as binary)))",
    "sum(crc32(cast(l_comment as binary)))", "count(l_note)",
    "sum(crc32(cast(l_note as binary)))", "sum(size(l_parts))",
    "sum(aggregate(l_parts, 0L, (a, x) -> a + x))", "sum(l_extendedprice)")
}

/** Running column aggregates of a set of rows — the model side of a
  * `full` read. Rows are added and removed as the modelled table changes. */
final class Agg extends Serializable {
  val longs = new Array[Long](20)
  var price = 0.0
  /** [[Gen.rawBytes]] of the rows. */
  var raw = 0L

  def add(r: Row, sign: Int = 1): Unit = {
    def put(i: Int, v: Long): Unit = longs(i) += sign * v
    put(0, 1)
    put(1, r.getLong(0)); put(2, r.getLong(1)); put(3, r.getInt(2)); put(4, r.getInt(3))
    put(5, r.getInt(4)); put(6, r.getInt(5))
    put(7, r.getDecimal(7).unscaledValue.longValueExact)
    put(8, r.getDecimal(8).unscaledValue.longValueExact)
    put(9, Gen.crc(r.getString(9))); put(10, Gen.crc(r.getString(10)))
    put(11, r.getAs[LocalDate](11).toEpochDay)
    val ts = r.getAs[Instant](12)
    put(12, ts.getEpochSecond); put(13, ts.getNano / 1000L)
    put(14, Gen.crc(r.getString(13))); put(15, Gen.crc(r.getString(14)))
    if (!r.isNullAt(15)) { put(16, 1); put(17, Gen.crc(r.getString(15))) }
    val parts = r.getSeq[Int](16)
    put(18, parts.size); put(19, parts.map(_.toLong).sum)
    price += sign * r.getDouble(6)
    raw += sign * Gen.rawBytes(r)
  }

  def merge(o: Agg): Agg = {
    longs.indices.foreach(i => longs(i) += o.longs(i))
    price += o.price
    raw += o.raw
    this
  }

  /** Adds the rows `[from, until)` of `gen`, on four threads. */
  def addAll(gen: Gen, from: Long, until: Long): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val step = (until - from + 3) / 4
    val parts = (0 until 4).map { p =>
      Future {
        val a = new Agg
        var id = from + p * step
        while (id < math.min(until, from + (p + 1) * step)) { a.add(gen.row(id)); id += 1 }
        a
      }
    }
    parts.foreach(f => merge(Await.result(f, Duration.Inf)))
  }

  /** Compares the one-row result of `Gen.FullAggregates`; None when it
    * matches, else what differs. Integer sums are exact; the double sum,
    * whose value depends on summation order, matches to 1e-9 relative. */
  def mismatch(res: Row): Option[String] = {
    def longAt(i: Int): Long =
      if (res.isNullAt(i)) 0L
      else res.get(i) match {
        case d: java.math.BigDecimal => d.unscaledValue.longValueExact
        case n: java.lang.Number => n.longValue
        case other => throw new IllegalStateException(s"aggregate $i: $other")
      }
    val bad = longs.indices.filter(i => longAt(i) != longs(i))
    val got = if (res.isNullAt(20)) 0.0 else res.getDouble(20)
    val priceOk = math.abs(got - price) <= 1e-9 * math.max(1.0, math.abs(price))
    if (bad.isEmpty && priceOk) None
    else Some(s"aggregates ${bad.map(i => s"${Gen.FullAggregates(i)}=${longAt(i)} (want ${longs(i)})")
      .mkString(", ")}${if (priceOk) "" else s" price=$got (want $price)"}")
  }
}
