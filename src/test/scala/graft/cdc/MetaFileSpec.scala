package graft.cdc

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** [[MetaFile]]: a replace is one atomic rename, so a reader racing it sees
  * the old text or the new, never a gap and never a mix.
  */
class MetaFileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpDir() = Files.createTempDirectory("graft_meta")

  test("500 replaces under 4 pollers: every read is Some and one complete written value") {
    val p = new Path(tmpDir().toString, "commit.json")
    // sizes 7 B .. ~1.8 kB, each value self-describing so a torn or mixed
    // read cannot pass for a written one
    def value(i: Int): String = s"<$i:" + ("x" * ((i * 37) % 1800)) + s":$i>"
    val ValueRe = """<(\d+):x*:(\d+)>""".r
    MetaFile.replace(spark, p, value(0))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val pollers = (1 to 4).map { _ =>
      new Thread(() => {
        try {
          var last = -1
          while (!stop.get()) {
            val s = MetaFile.read(spark, p).getOrElse(
              fail("read returned None while the file exists"))
            val i = s match {
              case ValueRe(a, b) if a == b => a.toInt
              case _ => fail(s"torn read: ${s.take(40)}…")
            }
            assert(s == value(i), s"value $i read back altered")
            assert(i >= last, s"read went backwards: $last -> $i")
            last = i
            reads.incrementAndGet()
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    }
    pollers.foreach(_.start())
    try (1 to 500).foreach(i => MetaFile.replace(spark, p, value(i)))
    finally { stop.set(true); pollers.foreach(_.join(10000L)) }
    assert(failure.get() == null,
      s"poller failed: ${Option(failure.get()).map(_.toString)}")
    assert(reads.get() > 0L, "the pollers never ran")
    assert(MetaFile.read(spark, p).contains(value(500)))
    // the temp files are gone; nothing but the target is left behind
    import scala.jdk.CollectionConverters._
    assert(Files.list(java.nio.file.Paths.get(p.getParent.toUri.getPath))
      .iterator().asScala.map(_.getFileName.toString).toSeq == Seq("commit.json"))
  }

  test("read is None only for an absent file; createExclusive wins once") {
    val dir = tmpDir().toString
    val p = new Path(s"$dir/sub", "claim.json")
    assert(MetaFile.read(spark, p).isEmpty)
    assert(MetaFile.createExclusive(spark, p, "first"))
    assert(!MetaFile.createExclusive(spark, p, "second"))
    assert(MetaFile.read(spark, p).contains("first"))
    MetaFile.replace(spark, p, "")
    assert(MetaFile.read(spark, p).contains(""), "an empty file reads as Some")
  }
}
