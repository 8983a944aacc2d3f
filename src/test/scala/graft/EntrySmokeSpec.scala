package graft
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
class EntrySmokeSpec extends AnyFunSuite {
  test("entry works on a plain unconfigured session") {
    // driver-t1-like: a session without graft confs
    val spark = TestSpark.spark.newSession()
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique") {
    // a repeated name would silently drop one query from `queries`
    val names = SparkEntry.registry.map(_.name)
    assert(names.diff(names.distinct).isEmpty, s"repeated: ${names.diff(names.distinct)}")
  }

  test("an unknown query name is rejected, and the message names it") {
    SparkEntry.requireKnown(Seq("q01_pricing_summary"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.requireKnown(Seq("q01_pricing_summary", "q01_pricing_sumary"))
    }
    assert(e.getMessage.contains("q01_pricing_sumary"), e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary"), e.getMessage)
  }
}
