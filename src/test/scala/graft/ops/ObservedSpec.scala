package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** [[Observed]]: observation metric values decode whichever collection
  * form they take, and a foreign shape fails loudly by name. */
class ObservedSpec extends SparkTestBase {

  test("both collection representations decode, with any numeric element type") {
    assert(Observed.decodeInts("b", Seq(3, 1, 2)) == Seq(3, 1, 2))
    assert(Observed.decodeInts("b", Array(3, 1, 2)) == Seq(3, 1, 2))
    assert(Observed.decodeInts("b", Array[Any](7L, 8.toShort)) == Seq(7, 8))
    assert(Observed.decodeInts("b",
      scala.collection.mutable.ArrayBuffer(4L, 5L)) == Seq(4, 5))
    assert(Observed.decodeInts("b", Array.empty[Int]).isEmpty)
  }

  test("a non-collection or non-numeric value fails loudly, naming the metric") {
    val e1 = intercept[IllegalStateException](Observed.decodeInts("buckets", 3))
    assert(e1.getMessage.contains("'buckets' is not a collection"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      Observed.decodeInts("cells", Seq("x")))
    assert(e2.getMessage.contains("'cells' holds a non-numeric element"),
      e2.getMessage)
  }

  test("a real collect_set observation decodes to the observed values") {
    val obs = Observation()
    spark.range(0, 20).select((col("id") % 4).cast("int").as("b"))
      .observe(obs, collect_set(col("b")).as("bs"))
      .write.format("noop").mode("overwrite").save()
    assert(Observed.ints(obs, "bs").sorted == Seq(0, 1, 2, 3))
  }
}
