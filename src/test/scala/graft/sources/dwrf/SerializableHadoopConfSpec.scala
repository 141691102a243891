package graft.sources.dwrf

import java.io._

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The configuration wrapper every dwrf job ships to its tasks: its
  * key/value wire format must give every key the raw value that Hadoop's
  * own `Configuration.write`/`readFields` round trip gives.
  */
class SerializableHadoopConfSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def javaBytes(conf: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableHadoopConf(conf))
    out.close()
    bytes.toByteArray
  }

  private def javaRoundTrip(conf: Configuration): Configuration =
    new ObjectInputStream(new ByteArrayInputStream(javaBytes(conf)))
      .readObject().asInstanceOf[SerializableHadoopConf].value

  private def writableBytes(conf: Configuration): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    conf.write(out)
    out.close()
    bytes.toByteArray
  }

  private def writableRoundTrip(conf: Configuration): Configuration = {
    val back = new Configuration(false)
    back.readFields(new DataInputStream(
      new ByteArrayInputStream(writableBytes(conf))))
    back
  }

  private def keys(conf: Configuration): Set[String] =
    conf.iterator().asScala.map(_.getKey).toSet

  /** Same key set, and every key's raw value equal, to the round trip
    * through `Configuration.write`/`readFields`. */
  private def assertSameAsWritable(conf: Configuration): Configuration = {
    val expected = writableRoundTrip(conf)
    val actual = javaRoundTrip(conf)
    assert(keys(actual) === keys(expected))
    keys(expected).foreach { k =>
      assert(actual.getRaw(k) === expected.getRaw(k), s"key $k")
    }
    actual
  }

  test("the session conf round-trips every key's raw value") {
    val conf = spark.sessionState.newHadoopConf()
    val back = assertSameAsWritable(conf)
    assert(keys(back).size > 100, "expected the full session conf")
  }

  test("deprecated keys and their replacements keep the replayed values") {
    // set before the deprecations exist, so the table holds both names
    // with different values and the replay order decides what each reads.
    // The table first grows and is emptied again, so its iteration order
    // differs from that of a map sized for the keys left: only the
    // table's own order reproduces what readFields replays.
    val conf = new Configuration(false)
    (0 until 4096).foreach(i => conf.set(s"graft.spec.filler$i", "x"))
    (0 until 4096).foreach(i => conf.unset(s"graft.spec.filler$i"))
    val pairs = (0 until 32).map(i =>
      (s"graft.spec.deprecated.old$i", s"graft.spec.deprecated.new$i"))
    pairs.zipWithIndex.foreach { case ((oldKey, newKey), i) =>
      conf.set(oldKey, s"old-$i")
      conf.set(newKey, s"new-$i")
    }
    pairs.foreach { case (oldKey, newKey) =>
      Configuration.addDeprecation(oldKey, newKey)
    }
    val table = SerializableHadoopConf.props(conf)
    pairs.foreach { case (oldKey, newKey) =>
      assert(table.getProperty(oldKey) !== table.getProperty(newKey))
    }
    assertSameAsWritable(conf)
  }

  test("values past 64 KB and non-ASCII keys and values survive") {
    val conf = new Configuration(false)
    val big = "x" * (100 * 1024) + "é"
    conf.set("graft.spec.big", big)
    conf.set("graft.spec.ключ", "値 — 🙂")
    val back = assertSameAsWritable(conf)
    assert(back.getRaw("graft.spec.big") === big)
    assert(back.getRaw("graft.spec.ключ") === "値 — 🙂")
  }

  test("a value set on the driver is read back inside a Spark task") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("graft.spec.task", "from-the-driver")
    val ser = new SerializableHadoopConf(conf)
    val seen = spark.sparkContext.parallelize(Seq(1), 1)
      .map(_ => ser.value.get("graft.spec.task"))
      .collect()
    assert(seen.toSeq === Seq("from-the-driver"))
  }

  test("round-trips when graft and Hadoop come from different class loaders") {
    // As under `spark-submit --jars`: graft's own classes are defined by a
    // child loader, Hadoop and Scala by its parent.
    val graftClasses = classOf[SerializableHadoopConf]
      .getProtectionDomain.getCodeSource.getLocation
    val parent = getClass.getClassLoader
    val child = new java.net.URLClassLoader(Array(graftClasses), parent) {
      override def loadClass(name: String, resolve: Boolean): Class[_] =
        getClassLoadingLock(name).synchronized {
          Option(findLoadedClass(name)).getOrElse {
            try findClass(name)
            catch { case _: ClassNotFoundException => super.loadClass(name, resolve) }
          }
        }
    }
    try {
      val wrapperClass = Class.forName(classOf[SerializableHadoopConf].getName,
        true, child)
      assert(wrapperClass.getClassLoader eq child)
      val conf = new Configuration(false)
      conf.set("graft.spec.loader", "split")
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(wrapperClass.getConstructor(classOf[Configuration])
        .newInstance(conf))
      out.close()
      val in = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)) {
        override def resolveClass(d: ObjectStreamClass): Class[_] =
          Class.forName(d.getName, false, child)
      }
      val back = in.readObject()
      val value = wrapperClass.getMethod("value").invoke(back)
        .asInstanceOf[Configuration]
      assert(value.getRaw("graft.spec.loader") === "split")
    } finally child.close()
  }

  test("the serialized form is smaller than Configuration.write's") {
    val conf = spark.sessionState.newHadoopConf()
    assert(javaBytes(conf).length < writableBytes(conf).length)
  }
}
