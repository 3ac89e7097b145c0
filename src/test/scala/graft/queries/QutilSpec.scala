package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class QutilSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("multisetEq holds for equal frames whose columns shadow its tag and count names") {
    val df = Seq((1L, "a", 7L), (1L, "a", 7L), (2L, "b", 8L))
      .toDF("_ms", "k", "_net")
    assert(Qutil.multisetEq(df, df))
    assert(Qutil.multisetEq(df.select("_ms", "k"), df.select("_ms", "k")))
    // multiplicity still counts: one copy of the duplicate row is not equal
    assert(!Qutil.multisetEq(df, df.dropDuplicates()))
    assert(!Qutil.multisetEq(df.select("_ms"), df.select("_net")
      .withColumnRenamed("_net", "_ms")))
  }
}
